"""Named query registry — the reference's 17 jobs (SURVEY.md §0/§2) plus
scale extensions, each wired to the driver's testdata tables and paired
with an ANSI-SQL oracle twin executed by DuckDB over the same parquet.

Column mapping onto testdata (FIXTURES.md): the ``events`` table plays
the reference's UserBehavior / AdClickLog / LoginLog / marketing streams —
``event_type='view'`` is "pv", ``event_type='error'`` is a login "fail",
``event_id % K`` is an item/ad surrogate, ``user_id % 25 → nation`` is a
province, ``user_id % 6`` is an app-install channel.  ``orders``/
``lineitem`` play the order-create/pay streams.  Window sizes/slides are
data-appropriate constants (the testdata spans 30 days; the reference's
5 s slides suit its minutes-long fixtures) — the *operators* accept any
size/slide.

Every query aliases identical column names on the Spark and SQL sides,
emits window bounds / timestamps as epoch-second BIGINTs (Spark
``cast(ts as long)`` floors; the oracles use ``floor(epoch(ts))`` to
match), and computes monetary aggregates over DECIMAL(18,2) before a
final cast to DOUBLE so both engines produce bit-identical values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import floor_div
from ..io import load_table
from ..operators.distinct import windowed_distinct_count
from ..operators.joins import interval_join, tx_match_full_outer
from ..operators.patterns import blacklist_filter
from ..operators.sessions import sessionize
from ..operators.timeout import create_pay_status
from ..operators.windows import sliding_window_count, topn_per_window, tumbling_window_count

HOUR, DAY = 3600, 86400

#: app-install channel surrogate (AppMarketingByChannel.scala:57-63 picks
#: uniformly from 6 channels) — same CASE text on both engines.
CHANNEL_CASE = (
    "CASE user_id % 6 WHEN 0 THEN 'AppStore' WHEN 1 THEN 'XiaomiStore' "
    "WHEN 2 THEN 'HuaweiStore' WHEN 3 THEN 'weibo' WHEN 4 THEN 'wechat' "
    "ELSE 'tieba' END"
)


@dataclass(frozen=True)
class QueryDef:
    """A named query: Spark plan builder + optional DuckDB oracle SQL."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, QueryDef] = {}


def _q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        QUERIES[name] = QueryDef(fn, oracle, doc)
        return fn

    return deco


def _finite(col) -> F.Column:
    """Three-valued 'is a finite double' predicate (NULL stays NULL).

    Corrupt numeric features (NaN / ±Inf) are a fact of life at corpus
    scale; every measure-statistics kernel excludes them by contract —
    NaN poisons sums/quantiles differently per engine, ±Inf crashes
    bucket casts (floor(Inf) -> BIGINT overflows under ANSI on Spark and
    outright errors on DuckDB).  The matching oracle guard is
    ``isfinite(value)``.  A no-op on clean data."""
    c = F.col(col) if isinstance(col, str) else col
    return ~F.isnan(c) & (F.abs(c) < F.lit(float("inf")))


#: Row filter keeping NULL measures (their semantics are pinned by the
#: NULL tier) while dropping non-finite ones — Spark / DuckDB twin pair.
_FINITE_OR_NULL_SQL = "(value IS NULL OR isfinite(value))"


def _finite_or_null(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | _finite(c)


def _sliding_sql(src: str, size: int, slide: int, keys: str, extra_cols: str = "") -> str:
    """DuckDB twin of Spark's epoch-aligned sliding ``window()``: each row
    expands to the ``size/slide`` window starts covering its timestamp."""
    key_list = f", {keys}" if keys else ""
    return f"""
WITH __e AS ({src}),
__w AS (
  SELECT *, unnest(generate_series(
      CAST(floor(__tse/{slide})*{slide} AS BIGINT) - {size} + {slide},
      CAST(floor(__tse/{slide})*{slide} AS BIGINT),
      {slide})) AS ws
  FROM __e)
SELECT ws, ws + {size} AS we{key_list}, count(*) AS cnt{extra_cols}
FROM __w GROUP BY ALL
"""


def _tumbling_sql(src: str, size: int, keys: str, agg: str = "count(*) AS cnt") -> str:
    # __tse IS NOT NULL: an unstamped event generates no window — Spark's
    # window() emits zero rows for a NULL event time, where the floor()
    # bucketing alone would keep a NULL window group
    key_list = f", {keys}" if keys else ""
    return f"""
WITH __e AS ({src})
SELECT CAST(floor(__tse/{size})*{size} AS BIGINT) AS ws,
       CAST(floor(__tse/{size})*{size} AS BIGINT) + {size} AS we{key_list},
       {agg}
FROM __e WHERE __tse IS NOT NULL GROUP BY ALL
"""


# =====================================================================
# Reference parity — NetworkFlowAnalysis / HotItemsAnalysis
# =====================================================================


@_q(
    "page_view_count",
    _tumbling_sql("SELECT epoch(ts) AS __tse FROM events WHERE event_type = 'view'", HOUR, ""),
    "PageView.scala:27-42 — hourly 'pv' count (W5/A4).",
)
def page_view_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tumbling_window_count(ev.filter(F.col("event_type") == "view"), "ts", "1 hour")


@_q(
    "hot_items_topn",
    f"""
WITH __c AS ({_sliding_sql(
        "SELECT event_id % 50 AS item_id, epoch(ts) AS __tse FROM events WHERE event_type = 'view'",
        HOUR, 300, "item_id")}),
__r AS (SELECT *, row_number() OVER (PARTITION BY ws ORDER BY cnt DESC, item_id) AS rnk FROM __c)
SELECT ws, we, item_id, cnt, rnk FROM __r WHERE rnk <= 3
""",
    "HotItems.scala:32-67 — top-3 items per sliding 1h/5m window (W1/A1/A2/K1).",
)
def hot_items_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pv = ev.filter(F.col("event_type") == "view").withColumn("item_id", F.pmod("event_id", F.lit(50)))
    counts = sliding_window_count(pv, "ts", "1 hour", "5 minutes", keys=["item_id"])
    return topn_per_window(counts, 3, tiebreak_cols=["item_id"], rank_alias="rnk")


@_q(
    "top_urls",
    f"""
WITH __c AS ({_sliding_sql(
        "SELECT concat('/page/', CAST(CAST(regexp_extract(props, '[0-9]+') AS INT) % 20 AS VARCHAR)) AS url,"
        " epoch(ts) AS __tse FROM events WHERE props IS NOT NULL",
        6 * HOUR, HOUR, "url")}),
__r AS (SELECT *, row_number() OVER (PARTITION BY ws ORDER BY cnt DESC, url) AS rnk FROM __c)
SELECT ws, we, url, cnt, rnk FROM __r WHERE rnk <= 5
""",
    "NetworkFlow.scala:36-73 — top-5 URLs per sliding window (W2/K2).",
)
def top_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import url_from_props

    ev = load_table(spark, sf_dir, "events")
    # a NULL props yields no URL — dropped, like the reference drops
    # unparseable log lines (NetworkFlow.scala:43)
    with_url = ev.withColumn("url", url_from_props()).where(F.col("url").isNotNull())
    counts = sliding_window_count(with_url, "ts", "6 hours", "1 hour", keys=["url"])
    return topn_per_window(counts, 5, tiebreak_cols=["url"], rank_alias="rnk")


@_q(
    "unique_visitors",
    _tumbling_sql(
        "SELECT user_id, epoch(ts) AS __tse FROM events WHERE event_type = 'view'",
        HOUR,
        "",
        "count(DISTINCT user_id) AS uv",
    ),
    "UniqueVisitor.scala:24-49 — exact hourly UV (W6/A5).",
)
def unique_visitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return windowed_distinct_count(ev.filter(F.col("event_type") == "view"), "ts", "1 hour", "user_id")


@_q(
    "unique_visitors_approx",
    None,  # HLL sketch — not SQL-reproducible; tolerance-tested in tests/
    "UvWithBloomFilter/UvByBloomFilterWithoutRedis — approx hourly UV (A6/A7) via a DataSketches HLL sketch.",
)
def unique_visitors_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return windowed_distinct_count(
        ev.filter(F.col("event_type") == "view"), "ts", "1 hour", "user_id", approx=True, rsd=0.01
    )


# =====================================================================
# Reference parity — MarketAnalysis
# =====================================================================


@_q(
    "ad_clicks_by_province",
    _sliding_sql(
        "SELECT n_name AS province, epoch(ts) AS __tse FROM events "
        "JOIN nation ON (user_id % 25) = n_nationkey WHERE event_type = 'click'",
        HOUR,
        600,
        "province",
    ),
    "AdStatisticsByGeo.scala:26-47 — ad clicks per province per sliding window (W3/A3).",
)
def ad_clicks_by_province(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    nation = load_table(spark, sf_dir, "nation")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("nk", F.pmod("user_id", F.lit(25)).cast("int"))
        .join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("province"), "ts")
    )
    return sliding_window_count(clicks, "ts", "1 hour", "10 minutes", keys=["province"])


@_q(
    "ad_blacklist_warnings",
    """
WITH __e AS (SELECT user_id, event_id % 2 AS ad_id,
                    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) AS day, ts, event_id
             FROM events),
__r AS (SELECT *, row_number() OVER (PARTITION BY user_id, ad_id, day ORDER BY ts, event_id) AS rn FROM __e)
SELECT user_id, ad_id, day, 'Click over 1 times today' AS warning_msg FROM __r WHERE rn = 2
""",
    "AdAnalysisByProvinceBlack.scala:69-109 — first-exceed blacklist warning (F1).",
)
def ad_blacklist_warnings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("ad_id", F.pmod("event_id", F.lit(2)))
    _, warnings = blacklist_filter(ev, threshold=1, tiebreak_col="event_id")
    return warnings


@_q(
    "ad_blacklist_passed",
    """
WITH __e AS (SELECT user_id, event_id % 2 AS ad_id,
                    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) AS day, ts, event_id
             FROM events),
__r AS (SELECT *, row_number() OVER (PARTITION BY user_id, ad_id, day ORDER BY ts, event_id) AS rn FROM __e)
SELECT event_id, user_id, ad_id FROM __r WHERE rn <= 1
""",
    "AdAnalysisByProvinceBlack — rows that pass the blacklist filter (F1 main output).",
)
def ad_blacklist_passed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("ad_id", F.pmod("event_id", F.lit(2)))
    passed, _ = blacklist_filter(ev, threshold=1, tiebreak_col="event_id")
    return passed.select("event_id", "user_id", "ad_id")


@_q(
    "app_marketing_by_channel",
    _sliding_sql(
        f"SELECT {CHANNEL_CASE} AS channel, event_type AS behavior, epoch(ts) AS __tse "
        "FROM events WHERE event_type <> 'error'",
        DAY,
        6 * HOUR,
        "channel, behavior",
    ),
    "AppMarketingByChannel.scala:23-99 — installs per (channel, behavior) per sliding window (W4).",
)
def app_marketing_by_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from ..functions.scalar import channel_from_user

    base = (
        ev.filter(F.col("event_type") != "error")  # UNINSTALL analog (AppMarketingByChannel.scala:88)
        .withColumn("channel", channel_from_user("user_id"))
        .withColumnRenamed("event_type", "behavior")
    )
    return sliding_window_count(base, "ts", "1 day", "6 hours", keys=["channel", "behavior"])


@_q(
    "app_marketing_total",
    _sliding_sql(
        "SELECT epoch(ts) AS __tse FROM events WHERE event_type <> 'error'",
        DAY,
        6 * HOUR,
        "",
    ),
    "AppMarketingStatistics.scala:21-55 — channel-less total per sliding window.",
)
def app_marketing_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sliding_window_count(ev.filter(F.col("event_type") != "error"), "ts", "1 day", "6 hours")


# =====================================================================
# Reference parity — LoginFailDetect / OrderTimeoutDetect
# =====================================================================


@_q(
    "login_fail_detect",
    """
WITH __l AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER w AS prev_type,
         lag(ts) OVER w AS prev_ts
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id,
       CAST(floor(epoch(prev_ts)) AS BIGINT) AS first_fail_ts,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_fail_ts,
       'login fail 2 times in a short time' AS warning_msg
FROM __l
WHERE event_type = 'error' AND prev_type = 'error'
  AND epoch(ts) - epoch(prev_ts) < 3600.0
""",
    "LoginFailTwo.scala:60-91 / LoginFailWithCep.scala:56-60 — consecutive fails within gap "
    "(F2-F4); strict < bound matching LoginFailTwo.scala:74.",
)
def login_fail_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # declarative spec — .times(2).consecutive().within (LoginFailWithCep
    # .scala:56-60), compiled by operators/cep.py onto pattern_sequence,
    # the kernel under consecutive_fail_alerts too
    from ..operators.cep import PatternStep, match_pattern

    ev = load_table(spark, sf_dir, "events")
    fail = F.col("event_type") == "error"
    return match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[PatternStep(fail, contiguity="strict", times=2)],
        within_seconds=3600.0,
        tiebreak_col="event_id",
    ).select(
        "user_id",
        F.col("step1_ts").alias("first_fail_ts"),
        F.col("step2_ts").alias("last_fail_ts"),
        F.lit("login fail 2 times in a short time").alias("warning_msg"),
    )


@_q(
    "pattern_view_then_purchase",
    """
WITH __e AS (
  SELECT user_id, event_type, epoch(ts) AS tse,
         min(CASE WHEN event_type = 'purchase' THEN epoch(ts) END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_b
  FROM events)
SELECT user_id,
       CAST(floor(tse) AS BIGINT) AS first_ts,
       CAST(floor(next_b) AS BIGINT) AS second_ts
FROM __e WHERE event_type = 'view' AND next_b - tse < 1800.0
""",
    "Generic quantified pattern (parameterized flink-cep begin/followedBy/within — "
    "LoginFailWithCep.scala:56-60 and OrderTimeoutWithOutCep.scala:45-48 are its strict/"
    "relaxed instances): each view followed by the user's earliest later purchase within "
    "30min, relaxed contiguity, strict CEP-style end-exclusive bound.",
)
def pattern_view_then_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cep import PatternStep, match_pattern

    ev = load_table(spark, sf_dir, "events")
    return match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            PatternStep(F.col("event_type") == "view"),
            PatternStep(F.col("event_type") == "purchase"),
        ],
        within_seconds=1800.0,
        tiebreak_col="event_id",
    ).select(
        "user_id",
        F.col("step1_ts").alias("first_ts"),
        F.col("step2_ts").alias("second_ts"),
    )


@_q(
    "pattern_funnel_3step",
    """
WITH __p AS (
  SELECT user_id, event_type, event_id, epoch(ts) AS tse,
         min(CASE WHEN event_type = 'purchase' THEN epoch(ts) END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
  FROM events),
__c AS (
  SELECT user_id, event_type, tse,
         min(CASE WHEN event_type = 'click' AND np IS NOT NULL THEN tse END) OVER w AS t2,
         min(CASE WHEN event_type = 'click' THEN np END) OVER w AS t3
  FROM __p
  WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT user_id,
       CAST(floor(tse) AS BIGINT) AS step1_ts,
       CAST(floor(t2) AS BIGINT) AS step2_ts,
       CAST(floor(t3) AS BIGINT) AS step3_ts
FROM __c
WHERE event_type = 'view' AND t3 IS NOT NULL AND t3 - tse < 86400.0
""",
    "N-step quantified CEP (generalized begin/followedBy.../within — the surface "
    "LoginFailWithCep.scala:56-60 uses at N=2): 3-step view→click→purchase funnel per "
    "user within 24h, relaxed contiguity, greedy earliest chain.  The oracle exploits "
    "chain monotonicity to stay scalar (np of the earliest valid click = min np over "
    "clicks), mirroring the operator's reverse-order running struct-min.",
)
def pattern_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cep import PatternStep, match_pattern

    ev = load_table(spark, sf_dir, "events")
    return match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            PatternStep(F.col("event_type") == "view"),
            PatternStep(F.col("event_type") == "click"),
            PatternStep(F.col("event_type") == "purchase"),
        ],
        within_seconds=86400.0,
        tiebreak_col="event_id",
    )


@_q(
    "pattern_clean_conversion",
    """
WITH __e AS (
  SELECT user_id, event_type, epoch(ts) AS tse,
         min(CASE WHEN event_type = 'purchase' THEN epoch(ts) END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_b
  FROM events)
SELECT v.user_id,
       CAST(floor(v.tse) AS BIGINT) AS first_ts,
       CAST(floor(v.next_b) AS BIGINT) AS second_ts
FROM __e v
WHERE v.event_type = 'view' AND v.next_b - v.tse < 1800.0
  AND NOT EXISTS (SELECT 1 FROM events c
                  WHERE c.user_id = v.user_id AND c.event_type = 'error'
                    AND epoch(c.ts) > v.tse AND epoch(c.ts) < v.next_b)
""",
    "MID-PATTERN CEP negation (flink-cep begin(A).notFollowedBy(C).followedBy(B)"
    ".within(t)): view -> earliest purchase within 30min with NO error event strictly "
    "between the matched pair — the relaxed pair query stacked with one co-partitioned "
    "LEFT ANTI range join; boundary-exclusive on both sides so tie order never flips "
    "the outcome.",
)
def pattern_clean_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # begin(view).notFollowedBy(error).followedBy(purchase).within as a
    # declarative spec; the compiler compares the kill window at full
    # double precision, as the oracle does, so an error earlier in the
    # view's second never kills and one between the pair inside the
    # purchase's second always does
    from ..operators.cep import PatternStep, match_pattern

    ev = load_table(spark, sf_dir, "events")
    return match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            PatternStep(F.col("event_type") == "view"),
            PatternStep(F.col("event_type") == "error", negated=True),
            PatternStep(F.col("event_type") == "purchase"),
        ],
        within_seconds=1800.0,
        tiebreak_col="event_id",
    ).select(
        "user_id",
        F.col("step1_ts").alias("first_ts"),
        F.col("step2_ts").alias("second_ts"),
    )


@_q(
    "pattern_view_no_purchase",
    """
WITH __v AS (SELECT user_id, epoch(ts) AS tse FROM events WHERE event_type = 'view'),
__p AS (SELECT user_id, epoch(ts) AS tse FROM events WHERE event_type = 'purchase')
SELECT v.user_id, CAST(floor(v.tse) AS BIGINT) AS first_ts
FROM __v v
WHERE NOT EXISTS (SELECT 1 FROM __p p
                  WHERE p.user_id = v.user_id
                    AND p.tse > v.tse AND p.tse - v.tse < 900.0)
""",
    "CEP negation (flink-cep Pattern#notFollowedBy...within — in the reference's CEP "
    "library though unused by its jobs): views NOT followed by a purchase from the same "
    "user within 15min, as a pattern operator rather than a hand-rolled anti-join; "
    "value-ordered tie-safe kill window (first_ts < absent_ts < first_ts + 900), "
    "executed as one co-partitioned LEFT ANTI range join.",
)
def pattern_view_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cep import PatternStep, match_pattern

    ev = load_table(spark, sf_dir, "events")
    return match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            PatternStep(F.col("event_type") == "view"),
            PatternStep(F.col("event_type") == "purchase", negated=True),
        ],
        within_seconds=900.0,
    ).select("user_id", F.col("step1_ts").alias("first_ts"))


@_q(
    "pattern_optional_funnel",
    """
WITH __p AS (
  SELECT user_id, event_type, event_id, epoch(ts) AS tse,
         min(CASE WHEN event_type = 'purchase' THEN epoch(ts) END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
  FROM events),
__c AS (
  SELECT user_id, event_type, tse, np,
         min(CASE WHEN event_type = 'click' AND np IS NOT NULL THEN tse END) OVER w AS t2,
         min(CASE WHEN event_type = 'click' THEN np END) OVER w AS t3
  FROM __p
  WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT user_id,
       CAST(floor(tse) AS BIGINT) AS step1_ts,
       CAST(floor(t2) AS BIGINT) AS step2_ts,
       CAST(floor(t3) AS BIGINT) AS step3_ts
FROM __c
WHERE event_type = 'view' AND t3 IS NOT NULL AND t3 - tse < 3600.0
UNION ALL
SELECT user_id,
       CAST(floor(tse) AS BIGINT) AS step1_ts,
       CAST(NULL AS BIGINT) AS step2_ts,
       CAST(floor(np) AS BIGINT) AS step3_ts
FROM __c
WHERE event_type = 'view' AND np IS NOT NULL AND np - tse < 3600.0
""",
    "CEP optional() steps (flink-cep begin.where(view).followedBy(click).optional()"
    ".followedBy(purchase).within(1h)): both the with-click and the click-skipped match "
    "per anchor, via expansion into two relaxed sequences unioned with NULL at the "
    "skipped position — exactly flink-cep's emit-all-satisfiable-expansions behavior.",
)
def pattern_optional_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cep import PatternStep, match_pattern

    ev = load_table(spark, sf_dir, "events")
    return match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            PatternStep(F.col("event_type") == "view"),
            PatternStep(F.col("event_type") == "click", optional=True),
            PatternStep(F.col("event_type") == "purchase"),
        ],
        within_seconds=3600.0,
        tiebreak_col="event_id",
    )


@_q(
    "pattern_guarded_optional_funnel",
    """
WITH __p AS (
  SELECT user_id, event_type, event_id, epoch(ts) AS tse,
         min(CASE WHEN event_type = 'purchase' THEN epoch(ts) END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
  FROM events),
__c AS (
  SELECT user_id, event_type, tse, np,
         min(CASE WHEN event_type = 'click' AND np IS NOT NULL THEN tse END) OVER w AS t2,
         min(CASE WHEN event_type = 'click' THEN np END) OVER w AS t3
  FROM __p
  WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
__err AS (SELECT user_id, epoch(ts) AS tse FROM events WHERE event_type = 'error')
SELECT user_id,
       CAST(floor(tse) AS BIGINT) AS step1_ts,
       CAST(floor(t2) AS BIGINT) AS step2_ts,
       CAST(floor(t3) AS BIGINT) AS step3_ts
FROM __c c
WHERE event_type = 'view' AND t3 IS NOT NULL AND t3 - tse < 3600.0
  AND NOT EXISTS (SELECT 1 FROM __err e
                  WHERE e.user_id = c.user_id AND e.tse > c.t2 AND e.tse < c.t3)
UNION ALL
SELECT user_id,
       CAST(floor(tse) AS BIGINT) AS step1_ts,
       CAST(NULL AS BIGINT) AS step2_ts,
       CAST(floor(np) AS BIGINT) AS step3_ts
FROM __c c
WHERE event_type = 'view' AND np IS NOT NULL AND np - tse < 3600.0
  AND NOT EXISTS (SELECT 1 FROM __err e
                  WHERE e.user_id = c.user_id AND e.tse > c.tse AND e.tse < c.np)
""",
    "Extension (CEP composability — round-4 verdict ask): negation INSIDE an optional "
    "funnel, begin(view).followedBy(click).optional().notFollowedBy(error)"
    ".followedBy(purchase).within(1h), a shape no single hand-written kernel covered. "
    "The declarative compiler (operators/cep.py) expands the optional into two variants "
    "and anchors the error-guard to whichever gap survives: (click, purchase) when the "
    "click is matched, (view, purchase) when it is skipped — kill windows evaluated at "
    "exact event-time precision, boundary-exclusive.  Property-tested against a naive "
    "per-key Python NFA.",
)
def pattern_guarded_optional_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cep import PatternStep, match_pattern

    ev = load_table(spark, sf_dir, "events")
    return match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            PatternStep(F.col("event_type") == "view"),
            PatternStep(F.col("event_type") == "click", optional=True),
            PatternStep(F.col("event_type") == "error", negated=True),
            PatternStep(F.col("event_type") == "purchase"),
        ],
        within_seconds=3600.0,
        tiebreak_col="event_id",
    )


@_q(
    "pattern_unresolved_error_burst",
    """
WITH __l AS (
  SELECT user_id, event_type, ts,
         epoch(ts) AS tse,
         lag(event_type) OVER w AS prev_type,
         lag(epoch(ts)) OVER w AS prev_tse
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
__pairs AS (
  SELECT user_id, prev_tse, tse FROM __l
  WHERE event_type = 'error' AND prev_type = 'error'
    AND tse - prev_tse < 3600.0)
SELECT p.user_id,
       CAST(floor(p.prev_tse) AS BIGINT) AS step1_ts,
       CAST(floor(p.tse) AS BIGINT) AS step2_ts
FROM __pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM events s
  WHERE s.user_id = p.user_id AND s.event_type = 'purchase'
    AND epoch(s.ts) > p.tse AND epoch(s.ts) < p.prev_tse + 3600.0)
""",
    "Extension (compiler composite: quantifier + TRAILING negation): two CONSECUTIVE "
    "errors within 1 h (times(2).consecutive()) with NO purchase between the second "
    "error and the first error's deadline — the unresolved-failure alert "
    "(begin(error).times(2).consecutive().notFollowedBy(purchase).within(1h)).  The "
    "kill window is boundary-exclusive at full event-time precision; no hand-written "
    "kernel has this shape — it exists only through match_pattern's compilation "
    "(strict pair chain + deadline-anchored LEFT ANTI).",
)
def pattern_unresolved_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cep import PatternStep, match_pattern

    ev = load_table(spark, sf_dir, "events")
    return match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            PatternStep(F.col("event_type") == "error", contiguity="strict", times=2),
            PatternStep(F.col("event_type") == "purchase", negated=True),
        ],
        within_seconds=3600.0,
        tiebreak_col="event_id",
    )


@_q(
    "order_fulfillment_status",
    """
WITH __oe AS (
  SELECT o_orderkey AS order_id, 'create' AS event_type, epoch(o_orderdate) AS tse FROM orders
  UNION ALL
  SELECT l_orderkey, 'pay', epoch(l_shipdate) FROM lineitem),
__a AS (
  SELECT order_id,
         min(CASE WHEN event_type = 'create' THEN tse END) AS create_d,
         min(CASE WHEN event_type = 'pay' THEN tse END) AS pay_d
  FROM __oe GROUP BY order_id)
SELECT order_id,
       CAST(floor(create_d) AS BIGINT) AS create_ts,
       CAST(floor(pay_d) AS BIGINT) AS pay_ts,
       CASE WHEN create_d IS NULL AND pay_d IS NOT NULL THEN 'already payed but not found created log'
            WHEN pay_d IS NULL THEN 'order timeout'
            WHEN pay_d - create_d < 2592000.0 THEN 'payed successfully'
            ELSE 'payed but already timeout' END AS status
FROM __a
""",
    "OrderTimeout.scala:58-143 / OrderTimeoutWithOutCep — create→pay timeout 4-case analysis "
    "(F5/F6); orders=create, first lineitem shipment=pay, 30-day deadline.",
)
def order_fulfillment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    oe = orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.lit("create").alias("event_type"),
        F.col("o_orderdate").alias("ts"),
    ).unionByName(
        lineitem.select(
            F.col("l_orderkey").alias("order_id"),
            F.lit("pay").alias("event_type"),
            F.col("l_shipdate").alias("ts"),
        )
    )
    return create_pay_status(oe, timeout_seconds=30 * DAY)


@_q(
    "tx_match",
    """
WITH __p AS (
  SELECT concat(user_id, '-', CAST(floor(floor(epoch(ts))/86400) AS BIGINT)) AS tx_id,
         min(ts) AS mts
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1),
__r AS (
  SELECT concat(user_id, '-', CAST(floor(floor(epoch(ts))/86400) AS BIGINT)) AS tx_id,
         min(ts) AS mts
  FROM events
  WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1)
SELECT coalesce(__p.tx_id, __r.tx_id) AS tx_id,
       CAST(floor(epoch(__p.mts)) AS BIGINT) AS pay_ts,
       CAST(floor(epoch(__r.mts)) AS BIGINT) AS receipt_ts,
       CASE WHEN __p.tx_id IS NOT NULL AND __r.tx_id IS NOT NULL THEN 'matched'
            WHEN __r.tx_id IS NULL THEN 'unmatched-pays'
            ELSE 'unmatched-receipts' END AS status
FROM __p FULL OUTER JOIN __r ON __p.tx_id = __r.tx_id
""",
    "OrderPayTxMatch.scala:23-126 — two-stream full-outer reconciliation (J2); pays=first daily "
    "purchase per user, receipts=first daily click.",
)
def tx_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a transaction id needs BOTH fields — events missing either are
    # unreconcilable (the reference's POJO parse would drop them); the
    # guard also dodges concat_ws-vs-concat NULL divergence
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    day = floor_div(F.col("ts").cast("long"), DAY)
    tx = F.concat_ws("-", F.col("user_id"), day)

    def first_daily(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .withColumn("tx_id", tx)
            .groupBy("tx_id")
            .agg(F.min("ts").alias("ts"))
        )

    return tx_match_full_outer(first_daily("purchase"), first_daily("click"))


@_q(
    "interval_join_shipments",
    """
SELECT o_orderkey AS order_id, l_linenumber AS line_no,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts,
       CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ship_ts
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
 AND epoch(l_shipdate) >= epoch(o_orderdate)
 AND epoch(l_shipdate) <= epoch(o_orderdate) + 2592000.0
""",
    "OrderPayTxMatchWithJoin.scala:54-57 — event-time interval join (J1): shipment within "
    "[order, order+30d].",
)
def interval_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    j = interval_join(
        orders.select(F.col("o_orderkey").alias("k"), F.col("o_orderdate").alias("ts")),
        lineitem.select(F.col("l_orderkey").alias("k"), "l_linenumber", F.col("l_shipdate").alias("ts")),
        key="k",
        lower_seconds=0,
        upper_seconds=30 * DAY,
    )
    return j.select(
        F.col("l.k").alias("order_id"),
        F.col("r.l_linenumber").alias("line_no"),
        F.col("l.ts").cast("long").alias("order_ts"),
        F.col("r.ts").cast("long").alias("ship_ts"),
    )


# =====================================================================
# Extensions — sessionization & TPC-H-style analytics (scale workload)
# =====================================================================


@_q(
    "sessionize_users",
    """
WITH __d AS (
  -- collapse byte-identical (user, ts, event_id) duplicates: fully-tied
  -- ordering tuples make the ROWS-frame running sum tie-order-dependent
  -- in BOTH engines (round-8 churn repro of the round-6 one-off)
  SELECT user_id, ts, event_id, count(*) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3),
__f AS (
  SELECT user_id, ts, event_id, c,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0 THEN 1 ELSE 0 END AS is_start
  FROM __d
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
__g AS (
  SELECT user_id, ts, c,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM __f)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
       CAST(sum(c) AS BIGINT) AS n_events
FROM __g GROUP BY user_id, session_id
""",
    "Extension (north star): 30-min-gap sessionization per user (gaps-and-islands).",
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, gap_seconds=1800, tiebreak_col="event_id")


def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


_REVENUE_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))"


def _revenue():
    # Column construction needs an active session — build lazily per query.
    return _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")


@_q(
    "pricing_summary",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
    "Extension: TPC-H Q1-style pricing summary — scan-heavy agg benchmark anchor.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).alias("sq"),
        F.sum(_dec("l_extendedprice")).alias("sbp"),
        F.sum(_revenue()).alias("sdp"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sq").cast("double").alias("sum_qty"),
        F.col("sbp").cast("double").alias("sum_base_price"),
        F.col("sdp").cast("double").alias("sum_disc_price"),
        (F.col("sq").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("sbp").cast("double") / F.col("count_order")).alias("avg_price"),
        F.col("count_order"),
    )


def _order_line_rollup(l) -> DataFrame:
    """Per-order lineitem rollup (l_orderkey, rev_d DECIMAL, n_items) —
    guide §2.3 "aggregate before you shuffle" applied to the revenue
    tier (r11): the order/customer/nation joins group by ORDER-LEVEL
    attributes, so summing line revenue per order FIRST cuts the join
    input ~4x (one row per order instead of one per line) and the
    partial aggregation runs map-side before the first exchange.
    DECIMAL addition is exact and associative, so re-associating the
    sum through the order level is bit-identical; n_items re-sums to
    the same line count.  NULL l_orderkey groups never match the inner
    join, exactly like the NULL lines they came from."""
    return l.groupBy("l_orderkey").agg(
        F.sum(_revenue()).alias("__rev_d"), F.count(F.lit(1)).alias("__n_items")
    )


@_q(
    "region_revenue",
    f"""
SELECT r_name, CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue, count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    "Extension: TPC-H Q5-style revenue per region — broadcast-dim join chain.",
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c, n, r = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer", "nation", "region")
    )
    joined = (
        _order_line_rollup(l)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("r_name").agg(
        F.sum("__rev_d").cast("double").alias("revenue"),
        F.sum("__n_items").alias("n_items"),
    )


@_q(
    "top_revenue_customers",
    f"""
WITH __rev AS (
  SELECT c_custkey, c_name, SUM({_REVENUE_SQL}) AS rev_d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey, c_name)
SELECT c_custkey, c_name, CAST(rev_d AS DOUBLE) AS revenue
FROM __rev ORDER BY rev_d DESC, c_custkey LIMIT 10
""",
    "Extension: TPC-H Q10-style top-10 customers by revenue — global top-K "
    "(TakeOrderedAndProject, no full sort).",
)
def top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c = (load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer"))
    rev = (
        _order_line_rollup(l)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(F.sum("__rev_d").alias("rev_d"))
    )
    return (
        rev.orderBy(F.col("rev_d").desc(), F.col("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", F.col("rev_d").cast("double").alias("revenue"))
    )


# =====================================================================
# Extensions — training-data pipeline: dedup / similarity / text /
# multimodal (operators in operators/dedup.py, similarity.py, text.py,
# multimodal.py).  Oracles compute identical md5-based signatures.
# =====================================================================

from ..operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from ..operators.multimodal import attach_binary, decode_meta  # noqa: E402
from ..operators.similarity import (  # noqa: E402
    brute_force_topk,
    bucketed_neardup_pairs,
    cosine_lsh_pairs,
)
from ..operators.text import (  # noqa: E402
    BPE_TOKEN_PATTERN,
    LANG_ID_CASE,
    STOPWORDS,
    build_vocab,
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
    top_ngrams,
)

_BUCKET_SQL = (
    "('0x' || substring(md5(CAST({k} AS VARCHAR)), 1, 8))::VARCHAR::UBIGINT % 10000"
)

#: shared DuckDB shingle CTE (word trigrams, distinct per doc) — the twin
#: of operators.dedup.shingles
_SHINGLE_CTE = """
__w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
__sh AS (SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
         FROM __w)
"""

_MINHASH_K, _MINHASH_BANDS = 12, 4


def _minhash_cte_prefix() -> str:
    """Shared CTE chain: shingles → signatures → band keys → __cand."""
    rows = _MINHASH_K // _MINHASH_BANDS
    sig_cols = ", ".join(
        f"min(substring(md5('{i // 4}|' || sh), {(i % 4) * 8 + 1}, 8)) AS h{i}"
        for i in range(_MINHASH_K)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5({expr}) AS band_key FROM __sig".format(
            b=b, expr=" || ".join(f"h{b * rows + r}" for r in range(rows))
        )
        for b in range(_MINHASH_BANDS)
    )
    return f"""
WITH {_SHINGLE_CTE},
__sig AS (SELECT doc_id, {sig_cols} FROM __sh GROUP BY doc_id),
__b AS ({band_selects}),
__cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM __b a JOIN __b b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
"""


def _minhash_oracle() -> str:
    return _minhash_cte_prefix() + "SELECT doc_a, doc_b FROM __cand"


@_q(
    "dedup_exact",
    """
SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY md5(text)
""",
    "Extension: exact dedup — one representative per distinct text (hash-groupBy).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@_q(
    "dedup_minhash_lsh",
    _minhash_oracle(),
    "Extension: MinHash(k=12)+LSH(4 bands) near-dup candidate pairs over word trigrams.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidates(
        load_table(spark, sf_dir, "documents"), k=_MINHASH_K, bands=_MINHASH_BANDS
    )


@_q(
    "dedup_ngram_jaccard",
    f"""
WITH {_SHINGLE_CTE},
__rare AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM __sh GROUP BY sh)
           WHERE df <= 64),
__shf AS (SELECT s.doc_id, s.sh FROM __sh s JOIN __rare USING (sh)),
__sz AS (SELECT doc_id, count(*) AS sz FROM __shf GROUP BY doc_id),
__c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM __shf a JOIN __shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
SELECT doc_a, doc_b,
       common * 1.0 / (x.sz + y.sz - common) AS jaccard
FROM __c JOIN __sz x ON doc_a = x.doc_id JOIN __sz y ON doc_b = y.doc_id
WHERE common * 1.0 / (x.sz + y.sz - common) >= 0.8
""",
    "Extension: exact n-gram Jaccard near-dup pairs (inverted-index join) with a "
    "document-frequency cap (df<=64) bounding the quadratic self-join, threshold 0.8.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.8,
        df_max=64,
        intersections=_doc_pair_intersections(spark, sf_dir),
    )


def _doc_pair_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trigram inverted-index pair-intersection relation (df_max=64),
    checkpointed and memoized per (session, sf_dir) — the shared core of
    dedup_ngram_jaccard and dedup_containment (each previously paid the
    shingle self-join independently; one relation serves both)."""
    from ..operators.dedup import _pair_intersections

    def build() -> DataFrame:
        return _pair_intersections(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", 3, 64
        ).localCheckpoint(eager=False)

    return _cached_canon(spark, sf_dir, "docs_pair_intersections_64", build)


def _simhash_oracle(bits: int = 16) -> str:
    votes = ", ".join(
        "sum(CASE WHEN substring(md5(tok), {p}, 1) IN ('1','3','5','7','9','b','d','f') "
        "THEN 1 ELSE -1 END) AS v{b}".format(p=b + 1, b=b)
        for b in range(bits)
    )
    sig = " || ".join(f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(bits))
    return f"""
WITH __t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
__v AS (SELECT doc_id, {votes} FROM __t GROUP BY doc_id)
SELECT doc_id, {sig} AS simhash FROM __v
"""


@_q(
    "dedup_simhash",
    _simhash_oracle(),
    "Extension: 16-bit SimHash signature per document (md5-parity sign-sum).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"))


_COS_SQL = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


@_q(
    "ann_brute_force_topk",
    f"""
WITH __e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__q AS (SELECT vec_id AS q_id, v AS qv FROM __e WHERE vec_id < 5),
__s AS (SELECT q_id, e.vec_id AS neighbor_id,
               {_COS_SQL.format(a='qv', b='e.v')} AS cos
        FROM __e e, __q WHERE e.vec_id <> q_id),
__r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM __s)
SELECT q_id, neighbor_id, cos, rnk FROM __r WHERE rnk <= 10
""",
    "Extension: exact cosine top-10 neighbors for query vectors (broadcast scan baseline).",
)
def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


@_q(
    "ann_bucketed_neardup",
    f"""
WITH __e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__n AS (SELECT label, CAST(ceil(count(*) / 32.0) AS BIGINT) AS n_sub
        FROM __e GROUP BY label),
__s AS (SELECT e.vec_id, e.label, e.v,
               CAST(('0x' || substring(md5(CAST(e.vec_id AS VARCHAR)), 1, 8))::UBIGINT
                    % CAST(n.n_sub AS UBIGINT) AS BIGINT) AS sub
        FROM __e e JOIN __n n USING (label))
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS bucket,
       {_COS_SQL.format(a='a.v', b='b.v')} AS cos
FROM __s a JOIN __s b ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
WHERE {_COS_SQL.format(a='a.v', b='b.v')} >= 0.35
""",
    "Extension: IVF-style near-dup pairs — cosine ≥ 0.35 within coarse (label) buckets, "
    "buckets over 32 vectors split into deterministic md5 sub-buckets so the intra-bucket "
    "self-join cost is bounded at Σ|b|·32 (one fat bucket can no longer go quadratic); "
    "emitted pairs are exact cosines, capped buckets trade recall.",
)
def ann_bucketed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bucketed_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35, max_bucket=32
    )


@_q(
    "ann_cosine_lsh_neardup",
    f"""
WITH __e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__pl AS (
  SELECT p, d,
         CASE WHEN substring(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS s
  FROM range(32) tp(p) CROSS JOIN range(64) td(d)
),
__proj AS (
  SELECT e.vec_id, pl.p,
         SUM(pl.s * CAST(round(e.v[pl.d + 1] * 1000000) AS BIGINT)) >= 0 AS bit
  FROM __e e CROSS JOIN __pl pl GROUP BY 1, 2
),
__sig AS (
  SELECT vec_id, p // 4 AS band_idx,
         STRING_AGG(CAST(CAST(bit AS INT) AS VARCHAR), '' ORDER BY p) AS band_key
  FROM __proj GROUP BY 1, 2
),
__cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM __sig a JOIN __sig b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, {_COS_SQL.format(a='ea.v', b='eb.v')} AS cos
FROM __cand c JOIN __e ea ON ea.vec_id = c.vec_a JOIN __e eb ON eb.vec_id = c.vec_b
WHERE {_COS_SQL.format(a='ea.v', b='eb.v')} >= 0.4
""",
    "Extension: embedding-cosine near-dup pairs via signed-random-projection LSH — "
    "32 deterministic md5-parity ±1 hyperplanes, 8 bands × 4 bits, banded id-only "
    "candidate join, exact-cosine verification ≥ 0.4.  Data-independent scale path "
    "(no precomputed bucket column needed); recall floor asserted on planted "
    "near-dups in tests/test_scale_utilities.py.",
)
def ann_cosine_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_lsh_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


@_q(
    "text_token_stats",
    f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens_ws,
       len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS n_tokens_bpe
FROM documents
""",
    "Extension: whitespace + BPE-ish regex token counts per document.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table(spark, sf_dir, "documents"))


@_q(
    "text_quality",
    f"""
WITH __s AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '),
             w -> w IN ({', '.join("'" + w + "'" for w in STOPWORDS)}))) AS n_stop
  FROM documents)
SELECT doc_id, n_words, n_chars,
       round((n_chars - (n_words - 1)) * 1.0 / n_words, 6) AS avg_word_len,
       round(n_stop * 1.0 / n_words, 6) AS stopword_ratio,
       CASE WHEN n_words >= 5 AND n_words <= 1000
                 AND n_stop * 1.0 / n_words <= 0.5
                 AND (n_chars - (n_words - 1)) * 1.0 / n_words >= 2.0
                 AND (n_chars - (n_words - 1)) * 1.0 / n_words <= 12.0
            THEN 'ok' ELSE 'low' END AS quality
FROM __s
""",
    "Extension: doc quality signals (length / word shape / stopword ratio) + keep flag.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"))


@_q(
    "text_lang_id",
    f"SELECT doc_id, lang, {LANG_ID_CASE} AS lang_guess FROM documents",
    "Extension: marker-token language-ID heuristic vs labeled lang.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents"))


@_q(
    "text_fingerprint",
    """
SELECT doc_id, md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fingerprint
FROM documents
""",
    "Extension: normalized content fingerprint (lowercase, collapse spaces, md5).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"))


@_q(
    "multimodal_decode_meta",
    """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
       CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels
FROM documents WHERE text IS NOT NULL
""",
    "Extension: multimodal binary-column plumbing — mapInPandas 'decode' producing typed "
    "metadata (decode itself is a deterministic stub; see operators/multimodal.py).",
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return decode_meta(attach_binary(docs))


@_q(
    "multimodal_real_decode_meta",
    """
SELECT doc_id,
       CASE ((doc_id % 3) + 3) % 3 WHEN 0 THEN 'pgm' WHEN 1 THEN 'bmp' ELSE 'png' END AS format,
       CAST(((n_chars % 64) + 64) % 64 + 1 AS INTEGER) AS width,
       CAST(((n_chars * 7 % 48) + 48) % 48 + 1 AS INTEGER) AS height,
       CAST(CASE WHEN ((doc_id % 3) + 3) % 3 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels
FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
""",
    "Extension (multimodal, round 6): REAL image decode with zero external libraries — "
    "attach_image_binary builds fully valid PGM/BMP/PNG files per document (container by "
    "doc_id%3, geometry from n_chars, pixels tiling the text bytes; PNG includes zlib IDAT "
    "+ chunk CRCs), then real_decode_meta parses the container HEADERS back via "
    "decode_image (PNM/BMP/PNG/GIF/JPEG-SOF-walk).  The oracle recomputes the constructed "
    "geometry analytically, so a parser bug in any branch hash-mismatches.  Both stages "
    "are map-only mapInPandas — no shuffle; corrupt payloads become format='corrupt' "
    "side-output rows, never task failures (operators/multimodal.py).",
)
def multimodal_real_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_image_binary, real_decode_meta

    docs = load_table(spark, sf_dir, "documents")
    return real_decode_meta(attach_image_binary(docs))


# =====================================================================
# Reference parity — remaining variants / scalar-function extensions
# =====================================================================

from ..operators.patterns import fail_burst_alerts  # noqa: E402


@_q(
    "login_fail_burst",
    """
WITH __o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END AS is_succ
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
__r AS (SELECT *, sum(is_succ) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS run_id
        FROM __o),
__f AS (SELECT user_id, run_id, epoch(ts) AS tse FROM __r WHERE is_succ = 0),
__a AS (SELECT user_id, run_id, min(tse) AS anchor FROM __f GROUP BY 1, 2),
__k AS (SELECT f.user_id, f.run_id, f.tse, a.anchor
        FROM __f f JOIN __a a USING (user_id, run_id)
        WHERE f.tse <= a.anchor + 3600.0)
SELECT user_id,
       CAST(floor(anchor) AS BIGINT) AS first_fail_ts,
       CAST(floor(max(tse)) AS BIGINT) AS last_fail_ts,
       count(*) AS n_fails,
       'login fail 2 times in 3600s' AS warning_msg
FROM __k GROUP BY user_id, run_id, anchor HAVING count(*) >= 2
""",
    "LoginFailOne.scala:62-106 — ≥N fails within window of the first fail, success resets "
    "(F2, the timer-buffer variant).",
)
def login_fail_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return fail_burst_alerts(
        ev, fail_value="error", window_seconds=3600, min_fails=2, tiebreak_col="event_id"
    )


@_q(
    "props_numeric_stats",
    """
SELECT CAST(regexp_extract(props, '"k"\\s*:\\s*(-?[0-9]+)', 1) AS BIGINT) % 10 AS bucket,
       count(*) AS cnt,
       CAST(sum(CAST(regexp_extract(props, '"k"\\s*:\\s*(-?[0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       min(CASE WHEN isfinite(value) THEN value END) AS min_value,
       max(CASE WHEN isfinite(value) THEN value END) AS max_value
FROM events GROUP BY 1
""",
    "Extension (§2.9): typed JSON field extraction from events.props (get_json_object, "
    "JVM-side) + grouped stats — the reference has no JSON functions at all.",
)
def props_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import props_field

    ev = load_table(spark, sf_dir, "events")
    k = props_field("props", "k").cast("long")
    return (
        ev.select(k.alias("k"), "value")
        .groupBy((F.col("k") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("sum_k"),
            # min/max over FINITE values only (non-finite excluded by
            # contract — see _finite); cnt still counts every row
            F.min(F.when(_finite("value"), F.col("value"))).alias("min_value"),
            F.max(F.when(_finite("value"), F.col("value"))).alias("max_value"),
        )
    )


# =====================================================================
# Extensions — set operations (J3), semi/anti joins, distribution
# analytics over the full star schema, holistic window aggregates
# =====================================================================

from ..operators.custom_agg import windowed_quantiles_approx  # noqa: E402


@_q(
    "customers_without_big_orders",
    """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
""",
    "Extension (J3/anti): customers with no order above 450k — anti join with a pushed "
    "filter on the probe side.",
)
def customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 450000.0)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@_q(
    "buyer_viewer_overlap",
    """
SELECT user_id FROM events WHERE event_type = 'view'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
    "Extension (J3/intersect): users who both viewed and purchased.",
)
def buyer_viewer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return views.intersect(buys)


@_q(
    "view_days_without_purchase",
    """
SELECT user_id, CAST(floor(floor(epoch(ts))/86400) AS BIGINT) AS day
FROM events WHERE event_type = 'view'
EXCEPT
SELECT user_id, CAST(floor(floor(epoch(ts))/86400) AS BIGINT) AS day
FROM events WHERE event_type = 'purchase'
""",
    "Extension (J3/except): (user, day) pairs with views but no purchase that day.",
)
def view_days_without_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import epoch_day

    ev = load_table(spark, sf_dir, "events")
    day = epoch_day("ts").alias("day")
    views = ev.filter(F.col("event_type") == "view").select("user_id", day)
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    return views.subtract(buys)  # EXCEPT (set) semantics, not exceptAll


@_q(
    "late_shipment_priority_counts",
    """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND epoch(l_shipdate) > epoch(o_orderdate) + 5184000.0)
GROUP BY o_orderpriority
""",
    "Extension (TPC-H Q4-style, semi join): orders having a lineitem shipped > 60 days "
    "after ordering, counted per priority.",
)
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate").cast("double") > F.col("o_orderdate").cast("double") + 60 * DAY
    )
    return (
        orders.join(lineitem, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@_q(
    "customer_order_distribution",
    """
WITH __c AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist FROM __c GROUP BY c_count
""",
    "Extension (TPC-H Q13-style): histogram of orders-per-customer (left outer + two-phase agg).",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_q(
    "economy_revenue_share",
    f"""
SELECT CAST(SUM(CASE WHEN p_type = 'ECONOMY' THEN {_REVENUE_SQL}
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0
         / CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS economy_share_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
""",
    "Extension (TPC-H Q14-style): ECONOMY part-type revenue share — conditional decimal "
    "aggregation with a broadcast part join.",
)
def economy_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    j = lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    econ = F.sum(
        F.when(F.col("p_type") == "ECONOMY", _revenue()).otherwise(F.lit(0).cast("decimal(18,2)"))
    )
    total = F.sum(_revenue())
    return j.agg(
        (econ.cast("double") * 100.0 / total.cast("double")).alias("economy_share_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_q(
    "brand_supplier_revenue",
    f"""
SELECT p_brand, s_name, CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY p_brand, s_name
""",
    "Extension: revenue per (brand, supplier) — two broadcast dims on the fact scan.",
)
def brand_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, supplier = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "part", "supplier")
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_brand", "s_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


@_q(
    "windowed_value_quantiles",
    """
SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS ws,
       CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) + 86400 AS we,
       round(quantile_cont(value, 0.5), 6) AS q50,
       round(quantile_cont(value, 0.9), 6) AS q90,
       count(*) AS n
FROM events WHERE ts IS NOT NULL AND (value IS NULL OR isfinite(value))
GROUP BY 1, 2
""",
    "Extension: exact per-window value quantiles via the built-in percentile() — "
    "whole-stage-codegen, partial-aggregated, no Python worker.  PROMOTED from the "
    "applyInPandas formulation in round 8 (round-7 verdict #3: the Arrow round-trip + "
    "hot-window guard scan cost 1.25 s vs 0.40 s for the identical JVM plan at sf0.1); "
    "operators/custom_agg.windowed_quantiles remains the documented §2.10 "
    "ProcessWindowFunction surface, unit-tested equal to this plan.",
)
def windowed_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        _finite_or_null("value") & F.col("ts").isNotNull()
    )
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9)))
    ws = (floor_div(F.col("ts").cast("long"), DAY) * DAY).alias("ws")
    return (
        ev.select(ws, "value")
        .groupBy("ws")
        .agg(
            F.round(F.element_at(pct, 1), 6).alias("q50"),
            F.round(F.element_at(pct, 2), 6).alias("q90"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("ws", (F.col("ws") + DAY).alias("we"), "q50", "q90", "n")
    )


@_q(
    "windowed_value_quantiles_approx",
    None,  # GK sketch — not SQL-reproducible bit-exactly; tolerance-tested vs the exact twin
    "Extension (§2.10 scale path): percentile_approx sketch twin of "
    "windowed_value_quantiles — JVM-side, map-side-combinable, no Python stage.",
)
def windowed_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(_finite_or_null("value"))
    return windowed_quantiles_approx(ev, "ts", DAY, "value", quantiles=(0.5, 0.9))


# =====================================================================
# Extensions — as-of join, IVF ANN, rollup, window-frame analytics
# =====================================================================

from ..operators.joins import as_of_join  # noqa: E402
from ..operators.similarity import ivf_topk  # noqa: E402


@_q(
    "event_last_order_asof",
    """
WITH __r AS (
  SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts,
         max(o_orderkey) AS last_order_id
  FROM orders GROUP BY 1, 2),
__l AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS event_ts FROM events)
SELECT event_id, user_id, event_ts, last_order_id, order_ts AS last_order_ts
FROM (SELECT * FROM __l WHERE event_ts IS NOT NULL)
  ASOF LEFT JOIN __r ON user_id = o_custkey AND event_ts >= order_ts
UNION ALL
-- an unstamped probe has no "as of" point: NULL annotation, matching the
-- three-valued `event_ts >= order_ts` (DuckDB's ASOF would quirkily
-- match a NULL probe against the whole build side)
SELECT event_id, user_id, event_ts,
       CAST(NULL AS BIGINT) AS last_order_id, CAST(NULL AS BIGINT) AS last_order_ts
FROM __l WHERE event_ts IS NULL
""",
    "Extension (as-of join): each event annotated with the user's most recent order at or "
    "before it — union-tagged last-value propagation, one shuffle, no row explosion.",
)
def event_last_order_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("event_ts")
    )
    orders = load_table(spark, sf_dir, "orders")
    rt = (
        orders.groupBy(
            F.col("o_custkey"), F.col("o_orderdate").cast("long").alias("last_order_ts")
        )
        .agg(F.max("o_orderkey").alias("last_order_id"))
    )
    return as_of_join(
        ev,
        rt.withColumnRenamed("o_custkey", "user_id"),
        key="user_id",
        left_ts="event_ts",
        right_ts="last_order_ts",
        right_payload=["last_order_id", "last_order_ts"],
    )


def _kmeans_train_ctes(
    n_cells: int | str,
    train_iters: int,
    train_buckets: int | None,
    source: str = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0",
) -> tuple[str, str]:
    """Shared DuckDB CTE prefix replaying ``kmeans_fit`` exactly: seed
    selection, then one (assignment, centroid-mean) CTE pair per Lloyd
    iteration — 6 dp-rounded cosines for the argmax, DECIMAL(28,12)
    sums rounded to 6 dp for the means, so the trained codebook is
    bit-identical to Spark's.  *source* supplies the (vec_id, v) input
    relation — any vectorizable modality plugs in (the text-topic query
    passes the hashed-vectorizer CTE).  *n_cells* may be a SQL
    expression string (e.g. a scalar subquery deriving the cell count
    from the corpus size — the adaptive-blocking twin of the Spark
    side's eager count).  Returns (sql_prefix, final_seed_cte)."""
    cos = _COS_SQL
    train_where = (
        f"WHERE {_BUCKET_SQL.format(k='vec_id')} < {train_buckets}"
        if train_buckets is not None
        else ""
    )
    sql = f"""
WITH __e AS ({source}),
__et AS (SELECT vec_id, v FROM __e {train_where}),
__s0 AS (SELECT vec_id AS seed_id, v AS sv FROM __et ORDER BY vec_id LIMIT {n_cells}),
"""
    cur = "__s0"
    for i in range(train_iters):
        sql += f"""__a{i} AS (SELECT e.vec_id, e.v, s.seed_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='s.sv')} DESC, s.seed_id) AS r
           FROM __et e CROSS JOIN {cur} s),
__c{i} AS (SELECT seed_id AS cell, pos,
           round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS m
           FROM (SELECT seed_id, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x
                 FROM __a{i} WHERE r = 1)
           GROUP BY seed_id, pos),
__s{i + 1} AS (SELECT cell AS seed_id, list(m ORDER BY pos) AS sv FROM __c{i} GROUP BY cell),
"""
        cur = f"__s{i + 1}"
    return sql, cur


def _ivf_oracle(
    n_cells: int = 8,
    nprobe: int = 3,
    k: int = 10,
    train_iters: int = 2,
    corpus_probes: int = 2,
    train_buckets: int | None = None,
) -> str:
    """DuckDB twin of ``ivf_topk`` incl. the Lloyd training loop: one
    CTE pair per iteration (argmax assignment via row_number, centroid
    means over zipped unnest with DECIMAL(28,12) sums rounded to 6 dp —
    the same summation-order-independent arithmetic the Spark side
    uses, so the trained codebooks are bit-identical).  *train_buckets*
    mirrors ``train_fraction`` (md5 bucket < train_buckets of 10000)."""
    cos = _COS_SQL
    prefix, cur = _kmeans_train_ctes(n_cells, train_iters, train_buckets)
    sql = prefix
    sql += f"""__as AS (SELECT e.vec_id, e.v, s.seed_id, {cos.format(a='e.v', b='s.sv')} AS s_cos
         FROM __e e CROSS JOIN {cur} s),
__ar AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s_cos DESC, seed_id) AS r
         FROM __as),
__cell AS (SELECT vec_id, v, seed_id AS cell FROM __ar WHERE r <= {corpus_probes}),
__q AS (SELECT vec_id AS q_id, v AS qv FROM __e WHERE vec_id < 5),
__qs AS (SELECT q_id, qv, s.seed_id, {cos.format(a='qv', b='s.sv')} AS s_cos
         FROM __q CROSS JOIN {cur} s),
__qr AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s_cos DESC, seed_id) AS r
         FROM __qs),
__p AS (SELECT q_id, qv, seed_id AS cell FROM __qr WHERE r <= {nprobe}),
__c AS (SELECT DISTINCT q_id, c.vec_id AS neighbor_id, {cos.format(a='p.qv', b='c.v')} AS cos
        FROM __p p JOIN __cell c ON p.cell = c.cell WHERE c.vec_id <> p.q_id),
__rk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM __c)
SELECT q_id, neighbor_id, cos, rnk FROM __rk WHERE rnk <= {k}
"""
    return sql


@_q(
    "ann_ivf_topk",
    _ivf_oracle(train_buckets=5000),
    "Extension (ANN scale path): IVF-Flat top-10 — codebook trained by 2 Lloyd iterations "
    "of spherical k-means on a deterministic 50% hash-sample (a quantizer needs a "
    "representative sample, not the corpus; decimal-summed centroids stay engine-"
    "deterministic), multi-probe corpus assignment (each vector indexed under its top-2 "
    "cells), nprobe=3; candidates shuffle on the cell id instead of the full corpus. "
    "recall@10 floor-tested vs brute force.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        n_cells=8,
        nprobe=3,
        k=10,
        train_iters=2,
        corpus_probes=2,
        train_fraction=0.5,
        seeds=_ivf_shared_seeds(spark, sf_dir),
    )


@_q(
    "region_nation_revenue_rollup",
    f"""
SELECT r_name, n_name, CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue, count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
HAVING count(*) > 0
""",
    "Extension: revenue ROLLUP over (region, nation), two-phase — the fact join "
    "(grouping sets are emitted only when populated: Spark's Expand produces no "
    "grand-total row over EMPTY input, where ANSI SQL emits one — the oracle's "
    "HAVING pins the engine's semantics, a no-op on any non-empty input) "
    "pre-aggregates to the 31 (region, nation) groups BEFORE the rollup, so Spark's "
    "Expand (3 output rows per input) runs over 31 rows instead of tripling every "
    "joined lineitem (3.5x at sf0.1; the difference between one extra map step and "
    "an extra 2x fact-table's worth of agg input at 100 TB).",
)
def region_nation_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c, n, r = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer", "nation", "region")
    )
    joined = (
        _order_line_rollup(l)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    pre = joined.groupBy("r_name", "n_name").agg(
        F.sum("__rev_d").alias("rev_d"), F.sum("__n_items").alias("n_items")
    )
    return pre.rollup("r_name", "n_name").agg(
        F.sum("rev_d").cast("double").alias("revenue"), F.sum("n_items").alias("n_items")
    )


@_q(
    "daily_revenue_trend",
    """
WITH __d AS (
  SELECT CAST(floor(floor(epoch(o_orderdate))/86400) AS BIGINT) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
         count(*) AS n_orders
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1)
SELECT day,
       CAST(rev AS DOUBLE) AS revenue,
       n_orders,
       CAST(SUM(rev) OVER w7 AS DOUBLE) AS rev_7d,
       round(CAST(SUM(rev) OVER w7 AS DOUBLE) / COUNT(*) OVER w7, 6) AS avg_7d,
       CAST(SUM(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS rev_cum
FROM __d
WINDOW w7 AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
    "Extension (window frames): daily revenue with 7-day moving sum/avg and running total. "
    "The global-ordered window runs AFTER the per-day pre-aggregation (≤ a few thousand "
    "rows at any SF), so the single-partition stage is trivially small.",
)
def daily_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # a NULL order date has no place on a calendar spine — and keeping
    # it would park a NULL group at opposite ends of the cumulative
    # window on the two engines (Spark NULLS FIRST vs SQL NULLS LAST)
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
    )
    daily = orders.groupBy(
        floor_div(F.col("o_orderdate").cast("long"), DAY).alias("day")
    ).agg(
        F.sum(_dec("o_totalprice")).alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w7 = Window.orderBy("day").rangeBetween(-6, 0)
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        F.col("rev").cast("double").alias("revenue"),
        "n_orders",
        F.sum("rev").over(w7).cast("double").alias("rev_7d"),
        F.round(
            F.sum("rev").over(w7).cast("double") / F.count(F.lit(1)).over(w7), 6
        ).alias("avg_7d"),
        F.sum("rev").over(wcum).cast("double").alias("rev_cum"),
    )


from ..operators.dedup import lsh_verified_pairs  # noqa: E402


def _lsh_verified_oracle(threshold: float = 0.5) -> str:
    return _minhash_cte_prefix() + f"""
, __sz AS (SELECT doc_id, count(*) AS sz FROM __sh GROUP BY doc_id),
__common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS common
  FROM __cand c
  JOIN __sh a ON a.doc_id = c.doc_a
  JOIN __sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       common * 1.0 / (x.sz + y.sz - common) AS jaccard
FROM __common JOIN __sz x ON doc_a = x.doc_id JOIN __sz y ON doc_b = y.doc_id
WHERE common * 1.0 / (x.sz + y.sz - common) >= {threshold}
"""


@_q(
    "dedup_lsh_verified",
    _lsh_verified_oracle(0.5),
    "Extension (composed corpus-scale dedup): MinHash+LSH candidates verified by exact "
    "Jaccard on candidates only — the quadratic comparison never touches non-candidates.",
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_lsh_pairs(spark, sf_dir)


def _doc_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH verified pair set at threshold 0.5, materialized
    (lazy localCheckpoint) and memoized per (session, sf_dir) —
    returned by dedup_lsh_verified and consumed by the canonical-
    mapping family, so the LSH pipeline runs once per session.

    localCheckpoint (not .persist()) because the pair set feeds
    MULTI-REFERENCE consumers — pagerank's 3-round unroll references it
    7×, triangle_stats 3× — and under .persist() every reference
    re-embedded the whole LSH logical plan, so those consumers spent
    more driver time re-analyzing lineage than executing (r11
    measurement: dedup_pagerank warm build 1.8 s over a plan with
    hundreds of Exchange nodes).  The checkpoint truncates the plan to
    a pair-set-sized LogicalRDD; eager=False keeps the contract lazy
    (first action materializes, later consumers reuse the blocks)."""

    def build() -> DataFrame:
        return lsh_verified_pairs(
            load_table(spark, sf_dir, "documents"),
            k=_MINHASH_K,
            bands=_MINHASH_BANDS,
            threshold=0.5,
        ).localCheckpoint(eager=False)

    return _cached_canon(spark, sf_dir, "docs_lsh_05_pairs", build)


from ..operators.dedup import canonicalize_duplicates  # noqa: E402
from .. import cache as _frame_cache  # noqa: E402


def _cached_canon(spark: SparkSession, sf_dir: str, family: str, build) -> DataFrame:
    """The registry memo of a family frame that two or more queries
    share, built once per (session, sf_dir, family)."""
    key = (spark.sparkContext.applicationId, sf_dir, family)
    return _frame_cache.pin(key, build)


@_q(
    "dedup_components",
    f"""
WITH RECURSIVE __p AS ({_lsh_verified_oracle(0.5)}),
__e AS (SELECT doc_a AS s, doc_b AS d FROM __p
        UNION SELECT doc_b, doc_a FROM __p),
__r AS (SELECT s AS v, d AS w FROM __e
        UNION
        SELECT r.v, e.d FROM __r r JOIN __e e ON r.w = e.s),
__lbl AS (SELECT v AS doc_id, least(v, min(w)) AS canonical_id FROM __r GROUP BY v)
SELECT d.doc_id, coalesce(l.canonical_id, d.doc_id) AS canonical_id
FROM documents d LEFT JOIN __lbl l USING (doc_id)
""",
    "Extension (dedup canonicalization): connected components over LSH-verified near-dup "
    "pairs via hash-min label propagation; every doc mapped to its duplicate-cluster min id "
    "(itself when unique). filter(doc_id = canonical_id) is the deduplicated corpus. The "
    "oracle takes the same transitive closure with a recursive CTE. Eager by contract "
    "(iterative propagation); the mapping is memoized per (session, sf_dir) and shared "
    "with dedup_cluster_size_histogram.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_canonical_map(spark, sf_dir)


def _doc_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus (doc_id, canonical_id) over LSH-verified pairs at
    threshold 0.5 — built once per (session, sf_dir), shared by
    dedup_components and dedup_cluster_size_histogram."""

    def build() -> DataFrame:
        from ..operators.dedup import lsh_dedup_edges

        docs = load_table(spark, sf_dir, "documents")
        # connectivity edges, not the pair list — a duplicate flood's
        # clique never materializes (members connect through their
        # representative; identical components, linear edge count)
        return canonicalize_duplicates(docs, lsh_dedup_edges(docs, threshold=0.5))

    return _cached_canon(spark, sf_dir, "docs_lsh_05", build)


def _neardup_stats_oracle() -> str:
    lsh = _lsh_verified_oracle(0.5)
    assert lsh.count("FROM documents") == 1
    lsh_on_ok = lsh.replace("FROM documents", "FROM __ok")
    stop_list = ", ".join("'" + w + "'" for w in STOPWORDS)
    return f"""
WITH RECURSIVE __sig0 AS (
  SELECT doc_id, source, text,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '),
             w -> w IN ({stop_list}))) AS n_stop
  FROM documents),
__ok AS (
  SELECT doc_id, source, text FROM __sig0
  WHERE n_words >= 5 AND n_words <= 1000
        AND n_stop * 1.0 / n_words <= 0.5
        AND (n_chars - (n_words - 1)) * 1.0 / n_words >= 2.0
        AND (n_chars - (n_words - 1)) * 1.0 / n_words <= 12.0),
__p AS ({lsh_on_ok}),
__eg AS (SELECT doc_a AS s, doc_b AS d FROM __p
         UNION SELECT doc_b, doc_a FROM __p),
__r AS (SELECT s AS v, d AS w FROM __eg
        UNION
        SELECT r.v, e.d FROM __r r JOIN __eg e ON r.w = e.s),
__lbl AS (SELECT v AS doc_id, least(v, min(w)) AS canonical_id FROM __r GROUP BY v)
SELECT o.source, count(*) AS n_docs,
       CAST(SUM(CASE WHEN coalesce(l.canonical_id, o.doc_id) = o.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical
FROM __ok o LEFT JOIN __lbl l USING (doc_id)
GROUP BY o.source
"""


@_q(
    "corpus_neardup_stats",
    _neardup_stats_oracle(),
    "Extension (training-data, composed end-to-end NEAR-dup pipeline): map-side quality "
    "filter -> MinHash+LSH candidates -> exact-Jaccard verify -> connected components -> "
    "canonical-doc counts per source. The near-dup analog of training_corpus_stats's exact "
    "pipeline: candidate generation is banded (never all-pairs), the quadratic verify "
    "touches candidates only, and cluster canonicalization is label propagation on the "
    "(tiny) dup graph with a broadcast join-back.",
)
def corpus_neardup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_ok

    ok = load_table(spark, sf_dir, "documents").filter(quality_ok("text"))

    pairs = lsh_verified_pairs(ok, k=_MINHASH_K, bands=_MINHASH_BANDS, threshold=0.5)
    canon = canonicalize_duplicates(ok, pairs)
    return (
        ok.select("doc_id", "source")
        .join(canon, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("canonical_id") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_canonical"),
        )
    )


from ..operators.similarity import label_centroids  # noqa: E402


@_q(
    "embedding_label_centroids",
    """
WITH __e AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                    unnest(embedding::DOUBLE[]) AS v
             FROM embeddings
             WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0)
SELECT label, pos - 1 AS pos,
       round(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS centroid_val,
       count(*) AS n_vecs
FROM __e GROUP BY 1, 2
""",
    "Extension (vector aggregation): per-label embedding centroid components — posexplode "
    "map-side, one shuffle on (label, dim); the k-means-iteration aggregation shape.",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_centroids(load_table(spark, sf_dir, "embeddings"))


_CUTOFF_1998 = 883612800  # 1998-01-01 UTC epoch seconds


@_q(
    "shipping_priority_topk",
    f"""
SELECT l_orderkey,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts,
       o_orderpriority
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE epoch(o_orderdate) < {_CUTOFF_1998} AND epoch(l_shipdate) >= {_CUTOFF_1998}
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY SUM({_REVENUE_SQL}) DESC, l_orderkey LIMIT 10
""",
    "Extension (TPC-H Q3-style): top-10 unshipped-revenue orders — date predicates pushed "
    "to both scans, decimal revenue ranking with deterministic tiebreak, global top-K.",
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    # timestamp-domain comparison (not an epoch-long cast) so the date
    # predicates push down to the parquet scans — row-group pruning is
    # the difference between reading 100 TB and reading the filtered tail
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp")
    l = lineitem.filter(F.col("l_shipdate") >= cutoff)
    o = orders.filter(F.col("o_orderdate") < cutoff)
    # r12: every group key besides l_orderkey is an ORDER attribute, so
    # the (ship-date-filtered) line revenue rolls up per order BEFORE
    # the join (guide §2.3, the §12 pattern) — fewer join rows, map-side
    # partial agg; DECIMAL re-association exact.  The outer groupBy
    # stays: it re-sums the per-order rollup exactly as it re-summed the
    # lines (bit-identical even under duplicate order rows).
    agg = (
        _order_line_rollup(l)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("__rev_d").alias("rev_d"))
    )
    return (
        agg.orderBy(F.col("rev_d").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev_d").cast("double").alias("revenue"),
            F.col("o_orderdate").cast("long").alias("order_ts"),
            "o_orderpriority",
        )
    )


@_q(
    "shipmode_priority_counts",
    """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate
GROUP BY l_linestatus
""",
    "Extension (TPC-H Q12-style): high/low-priority line counts per linestatus — "
    "conditional aggregation over the fact join with a cross-column residual predicate.",
)
def shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    # Direct timestamp comparison on BOTH engines (round-1 driver failure:
    # Spark cast('long') floors to whole seconds while DuckDB epoch() keeps
    # fractional seconds, so boundary rows diverged under the driver's data).
    j = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_shipdate") > F.col("o_orderdate")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
    )


@_q(
    "cheapest_supplier_per_part",
    """
WITH __u AS (
  SELECT l_partkey, l_suppkey,
         l_extendedprice / l_quantity AS unit_price
  FROM lineitem),
__r AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
                                     ORDER BY unit_price, l_suppkey) AS rn
        FROM __u)
SELECT l_partkey, l_suppkey AS cheapest_suppkey, unit_price
FROM __r WHERE rn = 1
""",
    "Extension (TPC-H Q2-style argmin-per-group): the supplier with the lowest unit price "
    "per part — window-min formulation, one shuffle on the group key, no correlated "
    "subquery re-scan.",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    lineitem = load_table(spark, sf_dir, "lineitem")
    # raw IEEE division, NOT rounded: both engines compute the identical
    # double, while decimal rounding of half-way values (…5625 at 6 dp)
    # differs between Spark's HALF_UP and DuckDB — found at sf0.1
    u = lineitem.select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    # asc_nulls_last: SQL ranks NULLs last by default, Spark first — a
    # NULL unit price must never win the argmin
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("unit_price").asc_nulls_last(), F.col("l_suppkey").asc()
    )
    return (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", F.col("l_suppkey").alias("cheapest_suppkey"), "unit_price")
    )


@_q(
    "high_k_hourly_by_type",
    f"""
WITH __e AS (
  SELECT event_type, epoch(ts) AS __tse
  FROM events
  WHERE CAST(regexp_extract(props, '[0-9]+') AS BIGINT) > 50)
SELECT CAST(floor(__tse/{HOUR})*{HOUR} AS BIGINT) AS ws,
       CAST(floor(__tse/{HOUR})*{HOUR} AS BIGINT) + {HOUR} AS we,
       event_type, count(*) AS cnt
FROM __e GROUP BY ALL
""",
    "Extension (§2.9 JSON): schema-on-read from_json struct parse of events.props, "
    "filtered on the typed field before the windowed count — the parse stays JVM-side "
    "and the filter prunes before the shuffle.",
)
def high_k_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        "ts",
        F.from_json(F.col("props"), "k BIGINT").alias("p"),
    ).filter(F.col("p.k") > 50)
    return (
        parsed.groupBy(
            (floor_div(F.col("ts").cast("long"), HOUR) * HOUR).alias("ws"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("ws", (F.col("ws") + HOUR).alias("we"), "event_type", "cnt")
    )


from ..operators.multimodal import frame_sample, resize_meta  # noqa: E402


@_q(
    "multimodal_resize_meta",
    """
WITH __m AS (
  SELECT doc_id, strlen(text) AS n_bytes,
         CAST(strlen(text) % 640 + 1 AS INTEGER) AS width,
         CAST((strlen(text) * 7) % 480 + 1 AS INTEGER) AS height
  FROM documents WHERE text IS NOT NULL),
__s AS (SELECT *, least(256 * 1000000 // greatest(width, height), 1000000) AS scale
        FROM __m)
SELECT doc_id, width, height,
       CAST(width * scale // 1000000 AS INTEGER) AS out_width,
       CAST(height * scale // 1000000 AS INTEGER) AS out_height,
       CAST(scale AS INTEGER) AS scale_num
FROM __s
""",
    "Extension (multimodal): aspect-preserving resize geometry over mapInPandas — the "
    "map-only stage composition after decode; pixel resample is the stubbed library call.",
)
def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_binary

    docs = load_table(spark, sf_dir, "documents")
    return resize_meta(attach_binary(docs))


@_q(
    "multimodal_frame_sample",
    """
WITH __m AS (SELECT doc_id, strlen(text) AS n FROM documents WHERE text IS NOT NULL),
__f AS (SELECT doc_id, n, unnest(generate_series(0, CAST(n % 4 AS INTEGER))) AS frame_idx
        FROM __m)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       n * frame_idx // (n % 4 + 1) AS frame_offset,
       n // (n % 4 + 1) AS frame_bytes
FROM __f
""",
    "Extension (multimodal): deterministic frame sampling — the one-to-many mapInPandas "
    "fan-out a video demux stage needs; row explosion happens inside the Arrow batch.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_binary

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(attach_binary(docs), max_frames=4)


@_q(
    "multimodal_feature_extract",
    """
WITH __e AS (
  SELECT doc_id,
         list_transform(range(0, 8), j ->
           ('0x' || substring(md5(text || '|' || CAST(j AS VARCHAR)), 1, 8))
             ::VARCHAR::UBIGINT / 4294967296.0) AS emb
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
       emb[1] AS e0, emb[2] AS e1, emb[3] AS e2, emb[4] AS e3,
       sqrt(list_reduce(list_transform(emb, x -> x * x), (a, b) -> a + b)) AS norm
FROM __e
""",
    "Extension (multimodal): feature extraction — binary payload to fixed-dim embedding "
    "via Arrow-batched mapInPandas (the model-inference stage; a real encoder replaces "
    "the md5 hash-projection, which unlike a real model is exactly oracle-checkable). "
    "First 4 components + L2 norm projected as scalars for the driver compare.",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import attach_binary, feature_extract

    docs = load_table(spark, sf_dir, "documents")
    emb = feature_extract(attach_binary(docs), dim=8)
    sq_sum = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x * x),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return emb.select(
        "doc_id",
        *[F.col("embedding")[i].alias(f"e{i}") for i in range(4)],
        F.sqrt(sq_sum).alias("norm"),
    )




@_q(
    "training_corpus_stats",
    f"""
WITH __s AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '),
             w -> w IN ({', '.join("'" + w + "'" for w in STOPWORDS)}))) AS n_stop
  FROM documents),
__ok AS (
  SELECT doc_id, lang, text FROM __s
  WHERE n_words >= 5 AND n_words <= 1000
        AND n_stop * 1.0 / n_words <= 0.5
        AND (n_chars - (n_words - 1)) * 1.0 / n_words >= 2.0
        AND (n_chars - (n_words - 1)) * 1.0 / n_words <= 12.0),
__keep AS (SELECT min(doc_id) AS doc_id FROM __ok GROUP BY md5(text)),
__surv AS (SELECT o.doc_id, o.lang FROM __ok o JOIN __keep USING (doc_id))
SELECT CASE WHEN {_BUCKET_SQL.format(k='doc_id')} < 8000 THEN 'train'
            WHEN {_BUCKET_SQL.format(k='doc_id')} < 9000 THEN 'validation'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs
FROM __surv GROUP BY 1, 2
""",
    "Extension (training-data, composed end-to-end): quality filter -> exact dedup "
    "(keep min doc_id per md5 fingerprint) -> deterministic 80/10/10 split, counted per "
    "(split, lang) — the full corpus-preparation pipeline as one plan: map-side quality "
    "predicates, one dedup shuffle on the 128-bit fingerprint, map-side split "
    "assignment, one final count shuffle.",
)
def training_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup
    from ..operators.text import quality_ok

    # quality is a pure Column predicate — map-side filter, no join-back
    ok_docs = load_table(spark, sf_dir, "documents").filter(quality_ok("text"))
    keep = exact_dedup(ok_docs).select(F.col("keep_id").alias("doc_id"))
    survivors = ok_docs.join(keep, "doc_id").select("doc_id", "lang")
    return (
        hash_split(survivors, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@_q(
    "pack_training_sequences",
    """
WITH __b AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
              AS BIGINT) AS n_tokens,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              ::VARCHAR::UBIGINT % 64 AS BIGINT) AS bucket
  FROM documents),
__c AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_tokens AS before
  FROM __b)
SELECT doc_id, n_tokens, bucket,
       CAST(floor(before / 256) AS BIGINT) AS bin,
       CAST(before % 256 AS BIGINT) AS tok_offset
FROM __c
""",
    "Extension (training-data): sequence packing — greedy assignment of documents to "
    "~256-token training bins via a per-bucket running token sum (64 deterministic md5 "
    "packing buckets parallelize the cumulative sum; (bucket, bin) is the sequence id). "
    "The assembly step every tokenize-and-concat pipeline runs before training.",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, target_tokens=256, buckets=64)


@_q(
    "skewed_event_type_counts",
    """
SELECT event_type, count(*) AS cnt
FROM events GROUP BY event_type
""",
    "Scale utility (§3.4 — the reference pins parallelism to 1 and never meets skew): "
    "two-phase salted count over a 5-key groupBy, the canonical hot-key shape.  Phase 1 "
    "shuffles on (key, salt) fanning each hot key over 16 reducers; phase 2 re-aggregates "
    "the tiny partial table.  Result identical to the plain groupBy (the oracle IS the "
    "plain formulation); deterministic xxhash64 salt, stable under retries.",
)
def skewed_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_count

    ev = load_table(spark, sf_dir, "events")
    return salted_count(ev, ["event_type"], salt_from="event_id", salt_buckets=16)


@_q(
    "marketing_channel_cube",
    f"""
SELECT {CHANNEL_CASE} AS channel, event_type, count(*) AS cnt,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY CUBE ({CHANNEL_CASE}, event_type)
HAVING count(*) > 0
""",
    "Extension: CUBE over (channel, event_type) with a distinct count per cell, "
    "two-phase: events pre-aggregate to distinct (channel, event_type, user) triples "
    "(one shuffle, event counts carried as partial sums), then the CUBE's 4-way Expand "
    "and the distinct-agg run over the triples — user-bounded — instead of 4x the raw "
    "event stream.  count(*) decomposes as sum(cnt); count(DISTINCT user) is exact on "
    "the triples because distinctness is preserved per cell.",
)
def marketing_channel_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(CHANNEL_CASE).alias("channel"), "event_type", "user_id"
    )
    pre = ev.groupBy("channel", "event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return pre.cube("channel", "event_type").agg(
        F.sum("cnt").alias("cnt"),
        F.countDistinct("user_id").alias("n_users"),
    )


from ..operators.text import rolling_fingerprint  # noqa: E402


@_q(
    "text_rolling_hash",
    """
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL ELSE list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
             t -> CAST(('0x' || substring(md5(t), 1, 8))::VARCHAR::UBIGINT AS BIGINT))),
         (acc, h) -> (acc * 31 + h) % 1000000007) END AS rolling_hash
FROM documents
""",
    "Extension: order-sensitive Rabin-Karp rolling hash over the token stream — one "
    "map-only Catalyst fold per document (the order-preserving complement to SimHash).",
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_fingerprint(load_table(spark, sf_dir, "documents"))


from ..operators.text import bm25_topk  # noqa: E402

_BM25_TERMS = ("spark", "hash", "window")


def _bm25_oracle(terms: tuple[str, ...], k: int, k1: float = 1.2, b: float = 0.75) -> str:
    term_list = ", ".join(f"'{t}'" for t in terms)
    pivots = ", ".join(
        f"coalesce(max(CASE WHEN tok = '{t}' THEN s END), 0.0) AS _s{i}"
        for i, t in enumerate(terms)
    )
    total = " + ".join(f"_s{i}" for i in range(len(terms)))
    return f"""
WITH __t AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                    unnest(string_split(text, ' ')) AS tok FROM documents),
__tf AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl FROM __t
         WHERE tok IN ({term_list}) GROUP BY 1, 2),
__df AS (SELECT tok, count(*) AS df FROM __tf GROUP BY tok),
__n AS (SELECT count(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avgdl
        FROM documents),
__s AS (SELECT t.doc_id, t.tok,
               (n.n_docs - d.df + 0.5) / (d.df + 0.5)
                 * (t.tf * {k1 + 1.0!r}) /
               (t.tf + {k1!r} * (1.0 - {b!r} + {b!r} * t.dl / n.avgdl)) AS s
        FROM __tf t JOIN __df d USING (tok) CROSS JOIN __n n),
__p AS (SELECT doc_id, {pivots} FROM __s GROUP BY doc_id)
SELECT doc_id, {total} AS score FROM __p
ORDER BY score DESC, doc_id LIMIT {k}
"""


@_q(
    "text_bm25_topk",
    _bm25_oracle(_BM25_TERMS, 20),
    "Extension (keyword search): BM25-saturation relevance top-20 for a fixed term bag, "
    "log-free idf variant so the score arithmetic is IEEE-identical across engines. "
    "Term-filter before any shuffle; broadcast df; TakeOrderedAndProject top-k.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(load_table(spark, sf_dir, "documents"), list(_BM25_TERMS), k=20)


from ..operators.heavy_hitters import candidate_counts  # noqa: E402


@_q(
    "text_hot_tokens",
    """
WITH __t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
__n AS (SELECT count(*) AS n FROM __t)
SELECT tok, count(*) AS freq
FROM __t GROUP BY tok
HAVING count(*) >= (SELECT CAST(ceil(0.02 * n) AS BIGINT) FROM __n)
""",
    "Extension (sketch): exact phi-heavy hitters (phi=0.02) over the document token "
    "stream — per-partition Misra-Gries candidate summaries (mapInPandas) pruned by an "
    "exact broadcast-join recount, so the sketch bounds the candidate space but never the "
    "answer (stopword / hot-shingle discovery for the dedup df caps).",
)
def text_hot_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    # capacity ceil(2/phi) = 100 keeps every key with freq >= phi*N
    freq = candidate_counts(toks, "tok", k=100, count_name="freq")
    return freq.filter(F.col("freq") >= F.ceil(F.lit(0.02) * F.col("__n"))).select("tok", "freq")


@_q(
    "text_vocab",
    """
WITH __tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents
),
__c AS (
  SELECT token, count(*) AS cnt FROM __tok GROUP BY token
  ORDER BY cnt DESC, token LIMIT 1000
)
SELECT token, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS vocab_id
FROM __c
""",
    "Extension: vocabulary construction (tokenizer-training front half) — corpus-wide "
    "whitespace-token counts, deterministic (cnt desc, token) rank → contiguous 1-based "
    "vocab ids, truncated to 1000; the only single-partition stage is vocab-sized.",
)
def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_vocab(load_table(spark, sf_dir, "documents"), max_size=1000)


@_q(
    "text_top_bigrams",
    """
WITH __w AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents
)
SELECT ws[i] || ' ' || ws[i + 1] AS gram, count(*) AS cnt
FROM __w, unnest(range(1, len(ws))) AS t(i)
GROUP BY 1 ORDER BY cnt DESC, gram LIMIT 100
""",
    "Extension: top-100 word bigrams corpus-wide (LM-style co-occurrence counts) — "
    "map-only n-gram assembly via transform over a position sequence, one map-side-"
    "combined count shuffle, TakeOrderedAndProject cut.",
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_ngrams(load_table(spark, sf_dir, "documents"), n=2, k=100)


@_q(
    "embedding_quantize_stats",
    """
WITH __e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__s AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM __e
),
__q AS (
  SELECT vec_id, round(sc, 9) AS scale,
         CASE WHEN sc > 0 THEN list_transform(v, x -> CAST(round(x / sc) AS INT))
              ELSE list_transform(v, x -> 0) END AS q
  FROM __s
)
SELECT vec_id, scale,
       q[1] AS q0, q[2] AS q1, q[3] AS q2, q[4] AS q3,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       CAST(list_min(q) AS INT) AS q_min,
       CAST(list_max(q) AS INT) AS q_max
FROM __q
""",
    "Extension: symmetric per-vector int8 quantization (scale = max|v|/127, q = "
    "round(v/scale)) — map-only, no Python; emitted as head components + summary "
    "stats (driver-safe scalars; full-array equality in tests).",
)
def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_embeddings

    q = quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    qsum = F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, x: a + x)
    return q.select(
        "vec_id",
        "scale",
        *[F.col("q")[i].alias(f"q{i}") for i in range(4)],
        qsum.alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


@_q(
    "nation_market_share_by_year",
    f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN n_name = 'NATION_7' THEN {_REVENUE_SQL}
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS mkt_share,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
""",
    "Extension (TPC-H Q8-style): one nation's revenue share per order year — conditional "
    "decimal share over the fact join chain with a broadcast nation dim and year() "
    "extraction on the timestamp.",
)
def nation_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c, n = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer", "nation")
    )
    j = (
        _order_line_rollup(l)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    # the nation predicate is an ORDER-level attribute (via the
    # customer), so conditioning the pre-summed per-order revenue is
    # exact: sum(when(n, rev_line)) == sum(when(n, rev_order))
    target = F.sum(
        F.when(F.col("n_name") == "NATION_7", F.col("__rev_d")).otherwise(
            F.lit(0).cast("decimal(28,2)")
        )
    )
    return j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        (target.cast("double") / F.sum("__rev_d").cast("double")).alias("mkt_share"),
        F.sum("__n_items").alias("n_items"),
    )


from ..operators.sampling import hash_sample, hash_split  # noqa: E402


@_q(
    "documents_hash_sample",
    f"""
SELECT doc_id, lang
FROM documents
WHERE {_BUCKET_SQL.format(k='doc_id')} < 1000
""",
    "Extension (training-data): deterministic ~10% sample by key hash — reproducible "
    "across runs/engines/partitionings, unlike rand() or TABLESAMPLE; map-only.",
)
def documents_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_sample(docs, "doc_id", 0.10)


from ..operators.sampling import stratified_sample  # noqa: E402


@_q(
    "documents_stratified_sample",
    f"""
WITH __cnt AS (SELECT source, count(*) AS __n FROM documents GROUP BY source),
__pre AS (SELECT d.source, d.doc_id
          FROM documents d JOIN __cnt c USING (source)
          WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                < CASE WHEN ceil(4294967296.0 * 40.0 / c.__n) >= 4294967296
                       THEN 'g'
                       ELSE printf('%08x', CAST(ceil(4294967296.0 * 40.0 / c.__n) AS BIGINT))
                  END),
__r AS (SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM __pre)
SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM __r WHERE rk <= 10
""",
    "Extension (training-data): deterministic per-source quota sample (10 docs/stratum) — "
    "two-phase: stratum counts broadcast back as a hash pre-filter sized to ~4x quota, then "
    "exact md5-rank within the survivors, so the per-stratum sort is O(margin*quota) at any "
    "stratum size.",
)
def documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    out = stratified_sample(docs, ["source"], quota=10, key="doc_id", margin=4.0)
    return out.select("source", "doc_id", F.col("rk").cast("long").alias("rk"))


@_q(
    "dataset_split_counts",
    f"""
WITH __b AS (SELECT doc_id, lang, {_BUCKET_SQL.format(k='doc_id')} AS b FROM documents)
SELECT CASE WHEN b < 8000 THEN 'train'
            WHEN b < 9000 THEN 'validation'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs
FROM __b GROUP BY 1, 2
""",
    "Extension (training-data): deterministic 80/10/10 train/validation/test split by key "
    "hash, counted per language — a record's split never changes as the corpus grows.",
)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        hash_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


from ..operators.text import lang_id_ngram  # noqa: E402


@_q(
    "text_lang_id_ngram",
    f"""
WITH __ptri AS (
  SELECT DISTINCT doc_id, lang, unnest(list_transform(
           range(1, len(text) - 1), i -> substring(text, i, 3))) AS tri
  FROM documents
  WHERE len(text) >= 3 AND lang IS NOT NULL AND {_BUCKET_SQL.format(k='doc_id')} < 5000),
__df AS (SELECT lang, tri, count(*) AS df FROM __ptri GROUP BY 1, 2),
__prof AS (
  SELECT lang AS cand_lang, tri
  FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY df DESC, tri) AS r
        FROM __df)
  WHERE r <= 50),
__tri AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           range(1, len(text) - 1), i -> substring(text, i, 3))) AS tri
  FROM documents WHERE len(text) >= 3),
__ov AS (
  SELECT t.doc_id, p.cand_lang, count(*) AS hits
  FROM __tri t JOIN __prof p ON t.tri = p.tri
  GROUP BY 1, 2),
__best AS (
  SELECT doc_id, cand_lang, hits
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS r
        FROM __ov)
  WHERE r = 1)
SELECT d.doc_id, d.lang,
       coalesce(b.cand_lang, 'und') AS lang_guess_ngram,
       coalesce(b.hits, 0) AS profile_hits
FROM documents d LEFT JOIN __best b ON d.doc_id = b.doc_id
""",
    "Extension (n-gram language-ID): top-50 char-trigram profile per labeled language "
    "built on a deterministic 50% hash-sample (mirrored in the oracle), each doc "
    "classified by largest profile overlap — scoring broadcast-joins the tiny profile "
    "before any distinct, so no shuffle is proportional to raw trigram volume.",
)
def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lang_id_scored(spark, sf_dir)


def _lang_id_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trigram classifier's scored frame (doc_id, lang,
    lang_guess_ngram, profile_hits), checkpointed and memoized per
    (session, sf_dir) — text_lang_id_ngram and lang_id_confusion_matrix
    share ONE classifier run instead of each re-deriving the profile
    and re-scoring the corpus.  The checkpoint is lazy: whichever
    dependent query acts first materializes it (corpus-sized but narrow —
    4 scalar columns per doc)."""

    def build() -> DataFrame:
        return lang_id_ngram(
            load_table(spark, sf_dir, "documents"), profile_fraction=0.5
        ).localCheckpoint(eager=False)

    return _cached_canon(spark, sf_dir, "lang_id_ngram_05", build)


# =====================================================================
# Round 3 extensions — repetition quality, PII scrub, decontamination,
# retention cohorts, k-means cluster stats
# =====================================================================

from ..operators.text import pii_scan, repetition_stats  # noqa: E402


@_q(
    "text_repetition_stats",
    """
WITH __w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents
),
__s AS (
  SELECT doc_id, ws, len(ws) AS n,
         CASE WHEN len(ws) >= 2
              THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
              ELSE CAST([] AS VARCHAR[]) END AS bg
  FROM __w
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CASE WHEN n > 0 THEN round(CAST(len(list_distinct(ws)) AS DOUBLE) / n, 6)
            ELSE 0.0 END AS distinct_token_ratio,
       CASE WHEN n > 0 THEN round(CAST(list_max(list_transform(list_distinct(ws),
                 t -> len(list_filter(ws, x -> x = t)))) AS DOUBLE) / n, 6)
            ELSE 0.0 END AS top_token_share,
       CASE WHEN n >= 2 THEN round(CAST(len(list_filter(range(1, n),
                 i -> ws[i] = ws[i + 1])) AS DOUBLE) / (n - 1), 6)
            ELSE 0.0 END AS adjacent_repeat_ratio,
       CASE WHEN n >= 2 THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
            ELSE 0.0 END AS dup_bigram_ratio
FROM __s
""",
    "Extension (Gopher-style repetition quality): per-doc distinct-token ratio, top-token "
    "share (longest sorted run — map-only, no per-token recount), adjacent-repeat ratio "
    "and duplicate-bigram ratio; pure Catalyst projections, zero shuffle.",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load_table(spark, sf_dir, "documents"))


@_q(
    "events_pii_scan",
    """
WITH __t0 AS (SELECT event_id, props AS t0 FROM events),
__t1 AS (SELECT event_id, t0,
                regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<PII>', 'g') AS t1
         FROM __t0),
__t2 AS (SELECT event_id, t0, t1,
                regexp_replace(t1, 'https?://[^ ]+', '<PII>', 'g') AS t2
         FROM __t1)
SELECT event_id,
       CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t1, 'https?://[^ ]+')) AS BIGINT) AS n_url,
       CAST(len(regexp_extract_all(t2, '[0-9]{2,}')) AS BIGINT) AS n_digit_run,
       regexp_replace(t2, '[0-9]{2,}', '<PII>', 'g') AS redacted,
       CAST(len(regexp_replace(t2, '[0-9]{2,}', '<PII>', 'g')) AS BIGINT) AS redacted_len
FROM __t2
""",
    "Extension (PII scrub): detection counts + mask redaction for email / URL / long "
    "digit-run patterns over the event props payload — map-only Catalyst regex (the "
    "pre-training scrubbing pass); each pattern is counted on the text with prior "
    "patterns already masked, so fragments never double-count; pattern hits on real "
    "PII shapes are fixture-tested.",
)
def events_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return pii_scan(ev, "event_id", "props")


from ..operators.dedup import ngram_contamination  # noqa: E402


@_q(
    "corpus_decontaminate",
    f"""
WITH __d AS (SELECT doc_id, string_split(text, ' ') AS ws,
                    {_BUCKET_SQL.format(k='doc_id')} AS b
             FROM documents),
__sh AS (SELECT DISTINCT doc_id, b,
           unnest(list_transform(range(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
         FROM __d WHERE len(ws) >= 3),
__bench AS (SELECT DISTINCT sh FROM __sh WHERE b < 500),
__tot AS (SELECT doc_id, count(*) AS n_grams FROM __sh WHERE b >= 500 GROUP BY doc_id),
__hit AS (SELECT s.doc_id, count(*) AS n_overlap
          FROM __sh s JOIN __bench USING (sh) WHERE s.b >= 500 GROUP BY s.doc_id)
SELECT h.doc_id, h.n_overlap, t.n_grams,
       round(CAST(h.n_overlap AS DOUBLE) / t.n_grams, 6) AS overlap_share
FROM __hit h JOIN __tot t USING (doc_id)
WHERE h.n_overlap >= 3
""",
    "Extension (decontamination): corpus docs sharing >=3 distinct word-trigram shingles "
    "with a held-out 5% hash-sampled benchmark — broadcast benchmark shingle set, "
    "map-side per-doc distinct shingling, one overlap-count shuffle (the eval-leakage "
    "check before a training run).",
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    return ngram_contamination(
        docs.filter(b >= 500), docs.filter(b < 500), n=3, min_overlap=3
    )


from ..operators.sessions import retention_cohorts  # noqa: E402


@_q(
    "user_retention_cohorts",
    """
WITH __first AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1),
__act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT f.cohort_day, CAST(datediff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
       count(*) AS n_users
FROM __act a JOIN __first f USING (user_id)
GROUP BY 1, 2
""",
    "Extension (product analytics): classic retention triangle — each user's first-seen "
    "day defines the cohort, activity counted per (cohort, day-offset); two user-keyed "
    "shuffles reused back-to-back plus one final (cohort, offset) aggregation.",
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention_cohorts(load_table(spark, sf_dir, "events"))


from ..operators.similarity import kmeans_cluster_stats  # noqa: E402


def _kmeans_stats_oracle(n_cells: int, train_iters: int, train_buckets: int | None) -> str:
    """DuckDB twin of ``kmeans_cluster_stats``: the shared Lloyd-training
    CTE prefix, then full-corpus assignment and per-cluster size /
    mean-cosine / majority-label aggregation."""
    cos = _COS_SQL
    prefix, cur = _kmeans_train_ctes(n_cells, train_iters, train_buckets)
    return (
        prefix
        + f"""__asg AS (SELECT e.vec_id, s.seed_id, {cos.format(a='e.v', b='s.sv')} AS c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='s.sv')} DESC, s.seed_id) AS r
           FROM __e e CROSS JOIN {cur} s),
__fin AS (SELECT a.vec_id, a.seed_id AS cluster_id, a.c, em.label
         FROM __asg a JOIN embeddings em USING (vec_id) WHERE a.r = 1),
__st AS (SELECT cluster_id, count(*) AS n_vecs,
                round(CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS avg_cos
         FROM __fin GROUP BY 1),
__lc AS (SELECT cluster_id, label, count(*) AS n FROM __fin GROUP BY 1, 2),
__top AS (SELECT cluster_id, label AS top_label, n
          FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                             ORDER BY n DESC, label) AS r FROM __lc)
          WHERE r = 1)
SELECT s.cluster_id, s.n_vecs, s.avg_cos, t.top_label,
       round(CAST(t.n AS DOUBLE) / s.n_vecs, 6) AS top_label_share
FROM __st s JOIN __top t USING (cluster_id)
"""
    )


@_q(
    "embedding_kmeans_stats",
    _kmeans_stats_oracle(8, 3, None),
    "Extension (iterative algorithm): distributed spherical k-means (k=8, 3 Lloyd "
    "iterations, smallest-id seeds) over the embeddings — map-only packed-codebook "
    "assignment, decimal-stable centroid updates (engine-bit-identical codebook, so the "
    "oracle replays the full training loop in SQL); emits per-cluster size, mean member "
    "cosine (inertia analog) and majority-label purity.",
)
def embedding_kmeans_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_cluster_stats(
        load_table(spark, sf_dir, "embeddings"), n_cells=8, train_iters=3
    )


from ..operators.dedup import containment_pairs  # noqa: E402


@_q(
    "dedup_containment",
    """
WITH __w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
__sh AS (SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
         FROM __w WHERE len(ws) >= 3),
__rare AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM __sh GROUP BY sh)
           WHERE df <= 64),
__f AS (SELECT s.doc_id, s.sh FROM __sh s JOIN __rare USING (sh)),
__sz AS (SELECT doc_id, count(*) AS sz FROM __f GROUP BY doc_id),
__c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM __f a JOIN __f b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
SELECT c.doc_a, c.doc_b,
       CAST(c.common AS DOUBLE) / x.sz AS containment_a,
       CAST(c.common AS DOUBLE) / y.sz AS containment_b,
       CAST(c.common AS DOUBLE) / least(x.sz, y.sz) AS containment
FROM __c c JOIN __sz x ON c.doc_a = x.doc_id JOIN __sz y ON c.doc_b = y.doc_id
WHERE CAST(c.common AS DOUBLE) / least(x.sz, y.sz) >= 0.2
""",
    "Extension (partial-dup detection): asymmetric shingle containment |A∩B|/min(|A|,|B|) "
    "— catches a short doc quoted inside a long one (tiny Jaccard, containment ~1); same "
    "df-capped inverted-index core as dedup_ngram_jaccard.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.2,
        df_max=64,
        intersections=_doc_pair_intersections(spark, sf_dir),
    )


from ..operators.text import tfidf_top_terms  # noqa: E402
from ..operators.windows import rolling_anomaly_zscore  # noqa: E402


@_q(
    "text_tfidf_top_terms",
    """
WITH __t AS (SELECT doc_id,
                    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
             FROM documents),
__tf AS (SELECT doc_id, term, count(*) AS tf FROM __t GROUP BY 1, 2),
__df AS (SELECT term, count(*) AS df FROM __tf GROUP BY term),
__n AS (SELECT count(*) AS n_docs FROM documents),
__s AS (SELECT t.doc_id, t.term, t.tf,
               t.tf * (CAST(n.n_docs AS DOUBLE) / d.df) AS score
        FROM __tf t JOIN __df d USING (term) CROSS JOIN __n n)
SELECT doc_id, term, tf, score,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rnk FROM __s)
WHERE rnk <= 3
""",
    "Extension (feature extraction): top-3 TF-IDF terms per document — log-free N/df idf "
    "(IEEE-exact cross-engine, ranking-equivalent), vocabulary-sized df broadcast, per-doc "
    "windowed top-k.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


@_q(
    "events_daily_anomaly",
    """
WITH __c AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
             FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
__w AS (SELECT event_type, day, cnt,
               count(*) OVER w AS n_prior,
               sum(cnt) OVER w AS s1,
               sum(cnt * cnt) OVER w AS s2
        FROM __c
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT event_type, day, cnt, CAST(n_prior AS BIGINT) AS n_prior,
       CASE WHEN n_prior >= 3
                 AND (CAST(s2 AS DOUBLE) / n_prior
                      - (CAST(s1 AS DOUBLE) / n_prior) * (CAST(s1 AS DOUBLE) / n_prior)) > 0
            THEN round((cnt - CAST(s1 AS DOUBLE) / n_prior)
                       / sqrt(CAST(s2 AS DOUBLE) / n_prior
                              - (CAST(s1 AS DOUBLE) / n_prior) * (CAST(s1 AS DOUBLE) / n_prior)), 6)
       END AS z
FROM __w
""",
    "Extension (monitoring): per-type daily volumes z-scored against their own trailing "
    "7-observation frame — integer sum/sum-of-squares window math (engine-exact, no "
    "Welford drift), one map-side-combined count shuffle, day-granularity windowed stage.",
)
def events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_anomaly_zscore(load_table(spark, sf_dir, "events"))


from ..operators.sampling import chunk_documents  # noqa: E402


@_q(
    "documents_chunked",
    """
WITH __d AS (SELECT doc_id, text, len(text) AS ln FROM documents),
__n AS (SELECT doc_id, text,
               greatest(1, CAST(ceil((ln - 50.0) / 150.0) AS BIGINT)) AS nc
        FROM __d)
SELECT doc_id, i AS chunk_idx, i * 150 + 1 AS chunk_start,
       CAST(len(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len,
       substring(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
FROM __n, unnest(range(nc)) t(i)
""",
    "Extension (RAG/context prep): overlapping fixed-size character chunks (200 chars, "
    "50 overlap) — chunk structs built inside the generator expression so per-chunk work "
    "is one substring; map-only, no shuffle.",
)
def documents_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load_table(spark, sf_dir, "documents"))


@_q(
    "events_rolling_active_users",
    """
WITH __ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
__x AS (SELECT user_id, day + CAST(o AS INT) AS day_w, o
        FROM __ud, unnest(range(7)) t(o))
SELECT day_w AS day, count(DISTINCT CASE WHEN o = 0 THEN user_id END) AS dau,
       count(DISTINCT user_id) AS wau
FROM __x GROUP BY 1
""",
    "Extension (product analytics): exact DAU + trailing-7-day WAU per day — the "
    "user-day distinct relation fans out map-side to the <=7 window days it serves, one "
    "distinct-count aggregation per window day; at larger windows swap the exact "
    "countDistinct for mergeable HLL sketches (unique_visitors_approx pattern).",
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    exp = ud.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda o: F.struct(
                    o.cast("long").alias("o"),
                    F.date_add(F.col("day"), o.cast("int")).alias("day_w"),
                ),
            )
        ).alias("w"),
    )
    return (
        exp.select("user_id", F.col("w.o").alias("o"), F.col("w.day_w").alias("day_w"))
        .groupBy(F.col("day_w").alias("day"))
        .agg(
            F.countDistinct(F.when(F.col("o") == 0, F.col("user_id"))).alias("dau"),
            F.countDistinct("user_id").alias("wau"),
        )
    )


_PII_REDACT_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<PII>', 'g'), "
    "'https?://[^ ]+', '<PII>', 'g'), "
    "'[0-9]{2,}', '<PII>', 'g')"
)


@_q(
    "corpus_prepare_stats",
    f"""
WITH __r AS (
  SELECT doc_id, lang, {_PII_REDACT_SQL} AS text,
         {_BUCKET_SQL.format(k='doc_id')} AS b
  FROM documents),
__s AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '),
             w -> w IN ({', '.join("'" + w + "'" for w in STOPWORDS)}))) AS n_stop
  FROM __r WHERE b >= 500),
__ok AS (
  SELECT doc_id, lang, text FROM __s
  WHERE n_words >= 5 AND n_words <= 1000
        AND n_stop * 1.0 / n_words <= 0.5
        AND (n_chars - (n_words - 1)) * 1.0 / n_words >= 2.0
        AND (n_chars - (n_words - 1)) * 1.0 / n_words <= 12.0),
__keep AS (SELECT min(doc_id) AS doc_id FROM __ok GROUP BY md5(text)),
__surv AS (SELECT o.doc_id, o.lang, o.text FROM __ok o JOIN __keep USING (doc_id)),
__sw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM __surv),
__sh AS (SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
         FROM __sw WHERE len(ws) >= 3),
__bw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         WHERE {_BUCKET_SQL.format(k='doc_id')} < 500),
__bsh AS (SELECT DISTINCT
            unnest(list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
          FROM __bw WHERE len(ws) >= 3),
__cont AS (SELECT s.doc_id FROM __sh s JOIN __bsh USING (sh)
           GROUP BY s.doc_id HAVING count(*) >= 3),
__clean AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens
  FROM __surv WHERE doc_id NOT IN (SELECT doc_id FROM __cont))
SELECT CASE WHEN {_BUCKET_SQL.format(k='doc_id')} < 8000 THEN 'train'
            WHEN {_BUCKET_SQL.format(k='doc_id')} < 9000 THEN 'validation'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM __clean GROUP BY 1, 2
""",
    "Extension (the end-to-end corpus-preparation flagship): PII scrub -> quality filter "
    "-> exact dedup -> benchmark decontamination -> deterministic split, with per-"
    "(split, lang) doc and token counts. One plan: map-side scrub+quality, one dedup "
    "shuffle on the fingerprint, broadcast benchmark shingles + anti-join, map-side "
    "split, one final count shuffle.",
)
def corpus_prepare_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup
    from ..operators.sampling import hash_bucket
    from ..operators.text import PII_PATTERNS, quality_ok

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    bench = docs.filter(b < 500)
    red = F.col("text")
    for _, pat in PII_PATTERNS:
        red = F.regexp_replace(red, pat, "<PII>")
    scrubbed = docs.filter(b >= 500).select("doc_id", "lang", red.alias("text"))
    ok = scrubbed.filter(quality_ok("text"))
    keep = exact_dedup(ok).select(F.col("keep_id").alias("doc_id"))
    surv = ok.join(keep, "doc_id")
    cont = ngram_contamination(surv, bench, n=3, min_overlap=3).select("doc_id")
    clean = surv.join(cont, "doc_id", "left_anti")
    toks = F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != "")).cast("long")
    return (
        hash_split(clean.select("doc_id", "lang", toks.alias("n_tokens")), "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
    )


from ..operators.similarity import quantized_topk  # noqa: E402


@_q(
    "ann_quantized_topk",
    """
WITH __e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM __e),
__q AS (SELECT vec_id,
               CASE WHEN sc > 0 THEN list_transform(v, x -> CAST(round(x / sc) AS DOUBLE))
                    ELSE list_transform(v, x -> 0.0) END AS q
        FROM __s),
__qs AS (SELECT vec_id AS q_id, q AS qq FROM __q WHERE vec_id < 5),
__sc AS (SELECT q_id, e.vec_id AS neighbor_id,
                round(list_dot_product(qq, e.q)
                      / (sqrt(list_dot_product(qq, qq)) * sqrt(list_dot_product(e.q, e.q))), 6) AS cos
         FROM __qs CROSS JOIN __q e WHERE e.vec_id <> q_id),
__rk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM __sc)
SELECT q_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rnk FROM __rk WHERE rnk <= 10
""",
    "Extension (quantized search): exact cosine top-10 over int8-quantized vectors — the "
    "symmetric scales cancel out of the cosine so the whole score is exact int64 dot "
    "products with one IEEE division (engine-identical, no decimal machinery); 4x smaller "
    "index than float32, recall@10 vs the float baseline floor-tested.",
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


_COSINE_LSH_ORACLE_CORE = """
__el AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__pl AS (
  SELECT p, d,
         CASE WHEN substring(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS s
  FROM range(32) tp(p) CROSS JOIN range(64) td(d)
),
__proj AS (
  SELECT e.vec_id, pl.p,
         SUM(pl.s * CAST(round(e.v[pl.d + 1] * 1000000) AS BIGINT)) >= 0 AS bit
  FROM __el e CROSS JOIN __pl pl GROUP BY 1, 2
),
__sig AS (
  SELECT vec_id, p // 4 AS band_idx,
         STRING_AGG(CAST(CAST(bit AS INT) AS VARCHAR), '' ORDER BY p) AS band_key
  FROM __proj GROUP BY 1, 2
),
__cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM __sig a JOIN __sig b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id
),
__vp AS (
  SELECT c.vec_a, c.vec_b
  FROM __cand c JOIN __el ea ON ea.vec_id = c.vec_a JOIN __el eb ON eb.vec_id = c.vec_b
  WHERE round(list_dot_product(ea.v, eb.v) /
        (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) >= 0.4
)"""


@_q(
    "embedding_neardup_components",
    f"""
WITH RECURSIVE {_COSINE_LSH_ORACLE_CORE},
__eg AS (SELECT vec_a AS s, vec_b AS d FROM __vp
         UNION SELECT vec_b, vec_a FROM __vp),
__r AS (SELECT s AS v, d AS w FROM __eg
        UNION
        SELECT r.v, e.d FROM __r r JOIN __eg e ON r.w = e.s),
__lbl AS (SELECT v AS vec_id, least(v, min(w)) AS canonical_id FROM __r GROUP BY v)
SELECT e.vec_id, coalesce(l.canonical_id, e.vec_id) AS canonical_id
FROM embeddings e LEFT JOIN __lbl l USING (vec_id)
""",
    "Extension (cross-modal composition): connected components over the EMBEDDING "
    "near-dup graph — SRP-LSH candidates -> exact-cosine verify (>= 0.4) -> hash-min "
    "label propagation -> full-corpus canonical-id assignment; the semantic-dedup "
    "analog of dedup_components' lexical pipeline. Eager by contract (iterative "
    "propagation).",
)
def embedding_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import canonicalize_duplicates
    from ..operators.similarity import cosine_lsh_dedup_edges

    emb = load_table(spark, sf_dir, "embeddings")
    # connectivity edges, NOT the pair list: a duplicate flood's clique
    # never materializes (members connect through their representative;
    # identical components, linear edge count — the skew tier at sf0.1
    # measured the pair-list route at ~2.5× the clean runtime from the
    # clique alone)
    edges = cosine_lsh_dedup_edges(emb, threshold=0.4)
    return canonicalize_duplicates(
        emb, edges, id_col="vec_id", a_col="vec_a", b_col="vec_b"
    )


from ..operators.patterns import funnel_conversion  # noqa: E402


@_q(
    "funnel_daily_conversion",
    """
WITH __b AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts FROM events),
__s1 AS (SELECT user_id, day, min(ts) AS t0 FROM __b
         WHERE event_type = 'view' GROUP BY 1, 2),
__s2 AS (SELECT b.user_id, b.day, min(b.ts) AS t1
         FROM __b b JOIN __s1 s USING (user_id, day)
         WHERE b.event_type = 'click' AND b.ts > s.t0 GROUP BY 1, 2),
__s3 AS (SELECT b.user_id, b.day, min(b.ts) AS t2
         FROM __b b JOIN __s2 s USING (user_id, day)
         WHERE b.event_type = 'purchase' AND b.ts > s.t1 GROUP BY 1, 2),
__c1 AS (SELECT day, count(*) AS n_step1 FROM __s1 GROUP BY day),
__c2 AS (SELECT day, count(*) AS n_step2 FROM __s2 GROUP BY day),
__c3 AS (SELECT day, count(*) AS n_step3 FROM __s3 GROUP BY day)
SELECT c1.day, c1.n_step1,
       coalesce(c2.n_step2, 0) AS n_step2,
       coalesce(c3.n_step3, 0) AS n_step3,
       round(CAST(coalesce(c2.n_step2, 0) AS DOUBLE) / c1.n_step1, 6) AS conv_2,
       round(CAST(coalesce(c3.n_step3, 0) AS DOUBLE) / c1.n_step1, 6) AS conv_3
FROM __c1 c1 LEFT JOIN __c2 c2 USING (day) LEFT JOIN __c3 c3 USING (day)
""",
    "Extension (funnel analytics): daily view->click->purchase conversion with "
    "first-touch anchors (each step strictly after the previous step's earliest "
    "qualifying event, same day) — K co-partitioned (user, day) conditional-min "
    "aggregations, day-granularity counts; the aggregation-shaped complement of "
    "pattern_sequence's CEP match output.",
)
def funnel_daily_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel_conversion(load_table(spark, sf_dir, "events"))


@_q(
    "small_quantity_order_revenue",
    """
WITH __avg AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS lim
               FROM lineitem GROUP BY l_partkey)
SELECT CAST(sum(l_extendedprice) / 7.0 AS DOUBLE) AS avg_yearly, count(*) AS n_items
FROM lineitem l JOIN __avg a ON l.l_partkey = a.l_partkey
WHERE l.l_quantity < a.lim
""",
    "Extension (TPC-H Q17-style): revenue from below-one-fifth-of-average-quantity line "
    "items — the correlated-aggregate shape decorrelated into a per-part average joined "
    "back on the SAME partkey (co-partitioned, exchange-reusable at scale).",
)
def small_quantity_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    avg = l.groupBy("l_partkey").agg((F.avg("l_quantity") * 0.2).alias("lim"))
    j = l.join(avg, "l_partkey").filter(F.col("l_quantity") < F.col("lim"))
    return j.agg(
        (F.sum("l_extendedprice") / 7.0).cast("double").alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


@_q(
    "events_daily_type_pivot",
    """
SELECT CAST(ts AS DATE) AS day,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
FROM events GROUP BY 1
""",
    "Extension (reporting surface): daily event counts pivoted to one column per type — "
    "an explicit pivot value list keeps the schema static (no discovery scan), compiling "
    "to a single conditional-count aggregation: one shuffle, map-side combined.",
)
def events_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    return p.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


@_q(
    "corpus_source_report",
    f"""
WITH __s AS (
  SELECT source, text,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '),
             w -> w IN ({', '.join("'" + w + "'" for w in STOPWORDS)}))) AS n_stop
  FROM documents)
SELECT source, count(*) AS n_docs,
       round(CAST(count(CASE WHEN n_words >= 5 AND n_words <= 1000
                   AND n_stop * 1.0 / n_words <= 0.5
                   AND (n_chars - (n_words - 1)) * 1.0 / n_words >= 2.0
                   AND (n_chars - (n_words - 1)) * 1.0 / n_words <= 12.0
                  THEN 1 END) AS DOUBLE) / count(*), 6) AS quality_ok_share,
       round(CAST(sum(n_words) AS DOUBLE) / count(*), 6) AS avg_tokens,
       round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 6) AS dup_rate
FROM __s GROUP BY source
""",
    "Extension (corpus governance): per-source health report — doc counts, quality-pass "
    "share, mean token length, exact-duplicate rate — one grouped scan (count DISTINCT "
    "fingerprint rides the same shuffle); the dashboard a data-curation team watches "
    "per ingestion source.",
)
def corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_ok

    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    return (
        docs.select(
            "source",
            F.size(ws).cast("long").alias("n_words"),
            quality_ok("text").cast("int").alias("ok"),
            F.md5(F.col("text")).alias("fp"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("ok") / F.count(F.lit(1)), 6).alias("quality_ok_share"),
            F.round(F.sum("n_words").cast("double") / F.count(F.lit(1)), 6).alias("avg_tokens"),
            F.round(
                F.lit(1.0) - F.countDistinct("fp").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
    )


@_q(
    "token_frequency_histogram",
    """
WITH __c AS (
  SELECT tok, count(*) AS cnt
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents)
  GROUP BY tok)
SELECT CAST(length(printf('%b', cnt)) - 1 AS BIGINT) AS log2_bucket,
       count(*) AS n_tokens,
       CAST(sum(cnt) AS BIGINT) AS total_occurrences
FROM __c GROUP BY 1
""",
    "Extension (corpus diagnostics): Zipf histogram — distinct tokens and total "
    "occurrences per floor(log2(frequency)) bucket, the vocabulary-shape fingerprint "
    "used to spot boilerplate floods; bucket via binary-string length (exact integer "
    "math, no float log parity issues), two vocab-sized aggregations.",
)
def token_frequency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.filter(F.split(F.col("text"), " "), lambda w: w != "")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    bucket = (F.length(F.bin(F.col("cnt"))) - F.lit(1)).cast("long")
    return counts.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("cnt").alias("total_occurrences"),
    )


from ..operators.similarity import ivf_quantized_topk  # noqa: E402


def _ivf_quantized_oracle(
    n_cells: int = 8,
    nprobe: int = 3,
    k: int = 10,
    train_iters: int = 2,
    corpus_probes: int = 2,
    train_buckets: int | None = None,
) -> str:
    """DuckDB twin of ``ivf_quantized_topk``: the shared Lloyd-training
    prefix, float-cosine cell assignment/probes, int8 candidate
    scoring (scales cancel; integer dot products exact)."""
    cos = _COS_SQL
    prefix, cur = _kmeans_train_ctes(n_cells, train_iters, train_buckets)
    return (
        prefix
        + f"""__qz AS (
  SELECT vec_id,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN list_transform(v, x -> CAST(round(x / (list_max(list_transform(v, y -> abs(y))) / 127.0)) AS DOUBLE))
              ELSE list_transform(v, x -> 0.0) END AS q
  FROM __e),
__as2 AS (SELECT e.vec_id, e.v, s.seed_id, {cos.format(a='e.v', b='s.sv')} AS s_cos
          FROM __e e CROSS JOIN {cur} s),
__ar2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s_cos DESC, seed_id) AS r
          FROM __as2),
__cell2 AS (SELECT a.vec_id, a.seed_id AS cell, z.q
            FROM __ar2 a JOIN __qz z USING (vec_id) WHERE a.r <= {corpus_probes}),
__q2 AS (SELECT vec_id AS q_id, v AS qv FROM __e WHERE vec_id < 5),
__qs2 AS (SELECT q_id, s.seed_id, {cos.format(a='qv', b='s.sv')} AS s_cos
          FROM __q2 CROSS JOIN {cur} s),
__qr2 AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s_cos DESC, seed_id) AS r
          FROM __qs2),
__p2 AS (SELECT p.q_id, p.seed_id AS cell, z.q AS qq
         FROM __qr2 p JOIN __qz z ON z.vec_id = p.q_id WHERE p.r <= {nprobe}),
__c2 AS (SELECT DISTINCT p.q_id, c.vec_id AS neighbor_id,
                round(list_dot_product(p.qq, c.q)
                      / (sqrt(list_dot_product(p.qq, p.qq)) * sqrt(list_dot_product(c.q, c.q))), 6) AS cos
         FROM __p2 p JOIN __cell2 c ON p.cell = c.cell WHERE c.vec_id <> p.q_id),
__rk2 AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM __c2)
SELECT q_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rnk FROM __rk2 WHERE rnk <= {k}
"""
    )


@_q(
    "ann_ivf_quantized_topk",
    _ivf_quantized_oracle(train_buckets=5000),
    "Extension (production ANN shape): IVF coarse quantizer + int8-compressed candidate "
    "scoring — trained codebook restricts each query to its probed cells, the int8 codes "
    "cut candidate bytes 4x and make the hot-loop math exact int64; recall floor-tested "
    "vs float brute force.",
)
def ann_ivf_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_quantized_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        n_cells=8,
        nprobe=3,
        k=10,
        train_iters=2,
        corpus_probes=2,
        train_fraction=0.5,
        seeds=_ivf_shared_seeds(spark, sf_dir),
    )


from ..operators.similarity import ivf_pq_topk, pq_topk  # noqa: E402


def _pq_train_ctes(m: int, w: int, k: int, train_iters: int) -> tuple[str, str]:
    """DuckDB CTE fragment replaying ``pq_fit`` exactly — assumes __e
    (corpus) and __et (training subset) CTEs exist.  Joint L2 Lloyd
    over the m sub-spaces: argmin via int64-quantized squared L2
    (((x·x − 2·x·c) + c6/1e6) × 1e6 rounded — identical left-assoc
    float ops to the Spark fold), DECIMAL(28,12) means rounded 6 dp,
    final dense re-rank of surviving codes.  Returns (sql_fragment,
    final_codebook_cte) where the codebook is (mi, code, cv, c6)."""
    d2 = (
        "CAST(round(((d.sd - 2*list_dot_product(d.sv, b.cv)) "
        "+ CAST(round(list_dot_product(b.cv, b.cv) * 1000000) AS BIGINT) / 1000000.0) "
        "* 1000000) AS BIGINT)"
    )
    sql = f"""__sub AS (SELECT vec_id, mi, v[mi*{w}+1 : mi*{w}+{w}] AS sv
          FROM __e CROSS JOIN range({m}) t(mi)),
__sd AS (SELECT s.vec_id, s.mi, s.sv, list_dot_product(s.sv, s.sv) AS sd
         FROM __sub s JOIN __et USING (vec_id)),
__sids AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS code
           FROM __et ORDER BY vec_id LIMIT {k}),
__pb0 AS (SELECT s.mi, i.code, s.sv AS cv FROM __sub s JOIN __sids i USING (vec_id)),
"""
    cur = "__pb0"
    for i in range(train_iters):
        sql += f"""__pa{i} AS (SELECT d.vec_id, d.mi, d.sv, b.code,
           row_number() OVER (PARTITION BY d.vec_id, d.mi ORDER BY {d2}, b.code) AS r
           FROM __sd d JOIN {cur} b ON d.mi = b.mi),
__pc{i} AS (SELECT mi, code, pos,
           round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mm
           FROM (SELECT mi, code, unnest(generate_series(1, len(sv))) AS pos, unnest(sv) AS x
                 FROM __pa{i} WHERE r = 1)
           GROUP BY mi, code, pos),
__pb{i + 1} AS (SELECT mi, code, list(mm ORDER BY pos) AS cv FROM __pc{i} GROUP BY mi, code),
"""
        cur = f"__pb{i + 1}"
    sql += f"""__pbf AS (SELECT mi, CAST(row_number() OVER (PARTITION BY mi ORDER BY code) AS INT) AS code, cv,
           CAST(round(list_dot_product(cv, cv) * 1000000) AS BIGINT) AS c6
           FROM {cur}),
"""
    return sql, "__pbf"


def _pq_adc_ctes(m: int, w: int, n_queries: int) -> str:
    """DuckDB CTE fragment for PQ encode + ADC query tables — assumes
    __e and __pbf exist.  Emits __enc (corpus codes), __xn (int64
    reconstruction self-dots), __q / __lut (per-query norm + int64
    sub-dot lookup table keyed (q_id, mi, code))."""
    d2 = (
        "CAST(round(((d.sd - 2*list_dot_product(d.sv, b.cv)) + b.c6 / 1000000.0) "
        "* 1000000) AS BIGINT)"
    )
    return f"""__asd AS (SELECT vec_id, mi, sv, list_dot_product(sv, sv) AS sd FROM __sub),
__enc0 AS (SELECT d.vec_id, d.mi, b.code, b.c6,
           row_number() OVER (PARTITION BY d.vec_id, d.mi ORDER BY {d2}, b.code) AS r
           FROM __asd d JOIN __pbf b ON d.mi = b.mi),
__enc AS (SELECT vec_id, mi, code, c6 FROM __enc0 WHERE r = 1),
__xn AS (SELECT vec_id, CAST(sum(c6) AS BIGINT) AS xn2 FROM __enc GROUP BY vec_id),
__q AS (SELECT vec_id AS q_id, v, sqrt(list_dot_product(v, v)) AS qn
        FROM __e WHERE vec_id < {n_queries}),
__qsub AS (SELECT q_id, mi, v[mi*{w}+1 : mi*{w}+{w}] AS qsv
           FROM __q CROSS JOIN range({m}) t(mi)),
__lut AS (SELECT s.q_id, s.mi, b.code,
          CAST(round(list_dot_product(s.qsv, b.cv) * 1000000) AS BIGINT) AS l6
          FROM __qsub s JOIN __pbf b ON s.mi = b.mi),
"""


def _pq_oracle(
    m: int = 32,
    k_codes: int = 32,
    k: int = 10,
    train_iters: int = 2,
    dim: int = 64,
    n_queries: int = 5,
    train_buckets: int | None = None,
) -> str:
    """DuckDB twin of ``pq_topk``: full training replay + ADC scoring
    (integer ip sums, one float division, 6 dp cosine)."""
    w = dim // m
    train_where = (
        f"WHERE {_BUCKET_SQL.format(k='vec_id')} < {train_buckets}"
        if train_buckets is not None
        else ""
    )
    train, _ = _pq_train_ctes(m, w, k_codes, train_iters)
    adc = _pq_adc_ctes(m, w, n_queries)
    return f"""
WITH __e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__et AS (SELECT vec_id, v FROM __e {train_where}),
{train}{adc}__ip AS (SELECT l.q_id, e.vec_id AS neighbor_id, CAST(sum(l.l6) AS BIGINT) AS ip6
        FROM __enc e JOIN __lut l ON l.mi = e.mi AND l.code = e.code
        WHERE e.vec_id <> l.q_id
        GROUP BY 1, 2),
__sc AS (SELECT i.q_id, i.neighbor_id,
         CASE WHEN q.qn * sqrt(x.xn2 / 1000000.0) > 0
              THEN round((i.ip6 / 1000000.0) / (q.qn * sqrt(x.xn2 / 1000000.0)), 6)
              ELSE 0.0 END AS cos
         FROM __ip i JOIN __q q USING (q_id) JOIN __xn x ON x.vec_id = i.neighbor_id),
__rk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM __sc)
SELECT q_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rnk FROM __rk WHERE rnk <= {k}
"""


def _ivf_pq_oracle(
    m: int = 32,
    k_codes: int = 32,
    n_cells: int = 8,
    nprobe: int = 3,
    k: int = 10,
    train_iters: int = 2,
    corpus_probes: int = 2,
    dim: int = 64,
    n_queries: int = 5,
    train_buckets: int | None = None,
) -> str:
    """DuckDB twin of ``ivf_pq_topk``: the shared spherical-Lloyd
    coarse prefix (``_kmeans_train_ctes``) + the PQ training/encode
    replay + cell-probed candidate set scored by ADC."""
    w = dim // m
    cos = _COS_SQL
    prefix, cur = _kmeans_train_ctes(n_cells, train_iters, train_buckets)
    train, _ = _pq_train_ctes(m, w, k_codes, train_iters)
    adc = _pq_adc_ctes(m, w, n_queries)
    return (
        prefix
        + train
        + adc
        + f"""__as2 AS (SELECT e.vec_id, s.seed_id, {cos.format(a='e.v', b='s.sv')} AS s_cos
          FROM __e e CROSS JOIN {cur} s),
__ar2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s_cos DESC, seed_id) AS r
          FROM __as2),
__cell2 AS (SELECT vec_id, seed_id AS cell FROM __ar2 WHERE r <= {corpus_probes}),
__qs2 AS (SELECT q_id, s.seed_id, {cos.format(a='q.v', b='s.sv')} AS s_cos
          FROM __q q CROSS JOIN {cur} s),
__qr2 AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s_cos DESC, seed_id) AS r
          FROM __qs2),
__p2 AS (SELECT q_id, seed_id AS cell FROM __qr2 WHERE r <= {nprobe}),
__cand AS (SELECT DISTINCT p.q_id, c.vec_id AS neighbor_id
           FROM __p2 p JOIN __cell2 c ON p.cell = c.cell WHERE c.vec_id <> p.q_id),
__ip AS (SELECT cd.q_id, cd.neighbor_id, CAST(sum(l.l6) AS BIGINT) AS ip6
         FROM __cand cd JOIN __enc e ON e.vec_id = cd.neighbor_id
              JOIN __lut l ON l.q_id = cd.q_id AND l.mi = e.mi AND l.code = e.code
         GROUP BY 1, 2),
__sc AS (SELECT i.q_id, i.neighbor_id,
         CASE WHEN q.qn * sqrt(x.xn2 / 1000000.0) > 0
              THEN round((i.ip6 / 1000000.0) / (q.qn * sqrt(x.xn2 / 1000000.0)), 6)
              ELSE 0.0 END AS cos
         FROM __ip i JOIN __q q USING (q_id) JOIN __xn x ON x.vec_id = i.neighbor_id),
__rk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM __sc)
SELECT q_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rnk FROM __rk WHERE rnk <= {k}
"""
    )


def _ivf_shared_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One IVF coarse quantizer (n_cells=8, 2 Lloyd iters, trained on
    the deterministic 50% hash-sample of the null-cleaned embeddings) —
    ann_ivf_topk, ann_ivf_quantized_topk and ann_ivf_pq_topk index with
    the SAME codebook (their oracles already replay this identical
    sampled training).  This function fixes the training parameters;
    ``kmeans_fit`` itself pins the codebook per (input hash, params), so
    the Lloyd loop runs once per session instead of once per index
    variant."""
    from ..operators.similarity import _drop_null_vec, kmeans_fit

    return kmeans_fit(
        _drop_null_vec(load_table(spark, sf_dir, "embeddings"), "embedding"),
        n_cells=8,
        train_iters=2,
        train_fraction=0.5,
    )


def _pq_shared_book(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PQ codebook (dim=64, m=32, k=32, 2 Lloyd iters, trained on
    the deterministic 50% hash-sample) checkpointed + memoized per
    (session, sf_dir) — ann_pq_topk and ann_ivf_pq_topk index with the
    SAME book, so the joint sub-space training runs once per session
    (and both oracles replay the identical sampled training)."""
    from ..operators.similarity import pq_fit

    def build() -> DataFrame:
        # lazy localCheckpoint: truncates the Lloyd/mapInPandas training
        # lineage to an m×k-row LogicalRDD so the two broadcast
        # consumers per query (encode + LUT) stop re-analyzing it
        return pq_fit(
            load_table(spark, sf_dir, "embeddings"),
            dim=64,
            m=32,
            k=32,
            train_iters=2,
            train_fraction=0.5,
        ).localCheckpoint(eager=False)

    return _cached_canon(spark, sf_dir, "pq_book_32x32_05", build)


@_q(
    "ann_pq_topk",
    _pq_oracle(m=32, k_codes=32, train_iters=2, train_buckets=5000),
    "Extension (PQ/ADC ANN — Jegou et al. product quantization): corpus compressed to m "
    "per-sub-space codes via jointly-trained L2 codebooks (50% hash-sample training, "
    "shared with ann_ivf_pq_topk), queries score candidates through an m x k integer "
    "lookup table (asymmetric distance, exact int64 sums, one float division) — the "
    "oracle replays the whole Lloyd training and ADC pipeline; recall@10 vs float "
    "brute force floor-tested.",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        dim=64,
        m=32,
        k_codes=32,
        k=10,
        book=_pq_shared_book(spark, sf_dir),
    )


@_q(
    "ann_ivf_pq_topk",
    _ivf_pq_oracle(m=32, k_codes=32, train_buckets=5000),
    "Extension (the full production ANN index: IVF + PQ/ADC): trained coarse quantizer "
    "restricts each query to its probed cells, candidates score via product-quantized "
    "codes and integer ADC lookup tables — m*log2(k) bits per vector vs int8's 8*dim; "
    "both training loops replayed in the oracle; recall floor-tested vs brute force.",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        dim=64,
        m=32,
        k_codes=32,
        n_cells=8,
        nprobe=3,
        k=10,
        train_iters=2,
        corpus_probes=2,
        train_fraction=0.5,
        book=_pq_shared_book(spark, sf_dir),
        seeds=_ivf_shared_seeds(spark, sf_dir),
    )


@_q(
    "text_top_pmi_bigrams",
    """
WITH __w AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
__uni AS (SELECT unnest(ws) AS tok FROM __w),
__uc AS (SELECT tok, count(*) AS c FROM __uni GROUP BY tok),
__un AS (SELECT count(*) AS n_uni FROM __uni),
__bg AS (SELECT ws[i] AS a, ws[i + 1] AS b
         FROM __w, unnest(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
__bc AS (SELECT a, b, count(*) AS c_ab FROM __bg GROUP BY 1, 2),
__bn AS (SELECT count(*) AS n_big FROM __bg)
SELECT bc.a || ' ' || bc.b AS gram, bc.c_ab,
       round((CAST(bc.c_ab AS DOUBLE) * un.n_uni * un.n_uni)
             / (CAST(bn.n_big AS DOUBLE) * ua.c * ub.c), 6) AS pmi_ratio
FROM __bc bc
JOIN __uc ua ON bc.a = ua.tok
JOIN __uc ub ON bc.b = ub.tok
CROSS JOIN __un un CROSS JOIN __bn bn
WHERE bc.c_ab >= 5
ORDER BY pmi_ratio DESC, gram LIMIT 50
""",
    "Extension (collocation mining): top-50 bigrams by PMI expressed as the LOG-FREE "
    "ratio p(ab)/(p(a)p(b)) (ln is monotone — identical ranking, engine-exact "
    "arithmetic); vocabulary-sized unigram counts broadcast onto the bigram counts, "
    "min-count 5 support filter, TakeOrderedAndProject cut.",
)
def text_top_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    n = F.size(ws)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            ws,
            F.slice(ws, 2, F.greatest(n - F.lit(1), F.lit(0))),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    bg = docs.select(
        F.explode(F.slice(pairs, 1, F.greatest(n - F.lit(1), F.lit(0)))).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    uni = docs.select(F.explode(ws).alias("tok"))
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    un = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    bc = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab")).filter(F.col("c_ab") >= 5)
    bn = bg.agg(F.count(F.lit(1)).alias("n_big"))
    scored = (
        bc.join(F.broadcast(uc.withColumnRenamed("tok", "a").withColumnRenamed("c", "ca")), "a")
        .join(F.broadcast(uc.withColumnRenamed("tok", "b").withColumnRenamed("c", "cb")), "b")
        .crossJoin(F.broadcast(un))
        .crossJoin(F.broadcast(bn))
        .select(
            F.concat_ws(" ", F.col("a"), F.col("b")).alias("gram"),
            F.col("c_ab"),
            F.round(
                (F.col("c_ab").cast("double") * F.col("n_uni") * F.col("n_uni"))
                / (F.col("n_big").cast("double") * F.col("ca") * F.col("cb")),
                6,
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(F.col("pmi_ratio").desc(), F.col("gram")).limit(50)


@_q(
    "session_funnel_conversion",
    """
WITH __e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
             FROM events WHERE ts IS NOT NULL),
__s AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
        FROM __e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
__sid AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sid
          FROM __s),
__s1 AS (SELECT user_id, sid, min(us) AS t0 FROM __sid
         WHERE event_type = 'view' GROUP BY 1, 2),
__s2 AS (SELECT b.user_id, b.sid, min(b.us) AS t1
         FROM __sid b JOIN __s1 s USING (user_id, sid)
         WHERE b.event_type = 'click' AND b.us > s.t0 GROUP BY 1, 2),
__s3 AS (SELECT b.user_id, b.sid, min(b.us) AS t2
         FROM __sid b JOIN __s2 s USING (user_id, sid)
         WHERE b.event_type = 'purchase' AND b.us > s.t1 GROUP BY 1, 2)
SELECT (SELECT count(*) FROM __s1) AS n_step1,
       (SELECT count(*) FROM __s2) AS n_step2,
       (SELECT count(*) FROM __s3) AS n_step3,
       round(CAST((SELECT count(*) FROM __s2) AS DOUBLE)
             / (SELECT count(*) FROM __s1), 6) AS conv_2,
       round(CAST((SELECT count(*) FROM __s3) AS DOUBLE)
             / (SELECT count(*) FROM __s1), 6) AS conv_3
""",
    "Extension (session analytics): the funnel measured per 30-minute SESSION instead of "
    "per day — gaps-and-islands session ids (lag + running sum over the user-time window, "
    "exact integer-microsecond gap math) feeding the same first-touch conditional-min "
    "chain, counted session-level.",
)
def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", "event_id", "event_type", F.unix_micros(F.col("ts")).alias("us"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("us").asc(), F.col("event_id").asc())
    prev = F.lag("us").over(w)
    new_s = (
        prev.isNull() | ((F.col("us") - prev) > 1800 * 1_000_000)
    ).cast("long")
    sess = ev.withColumn("sid", F.sum(new_s).over(w))
    s1 = (
        sess.filter(F.col("event_type") == "view")
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("t0"))
    )
    s2 = (
        sess.filter(F.col("event_type") == "click")
        .join(s1, ["user_id", "sid"])
        .filter(F.col("us") > F.col("t0"))
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("t1"))
    )
    s3 = (
        sess.filter(F.col("event_type") == "purchase")
        .join(s2, ["user_id", "sid"])
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("t2"))
    )
    c1 = s1.agg(F.count(F.lit(1)).alias("n_step1"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n_step2"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n_step3"))
    return (
        c1.crossJoin(c2)
        .crossJoin(c3)
        .select(
            "n_step1",
            "n_step2",
            "n_step3",
            # zero step-1 sessions -> conversion undefined (NULL), the
            # SQL 0/0 NULL both engines produce in legacy mode; under
            # ANSI Spark would otherwise raise DIVIDE_BY_ZERO
            F.when(
                F.col("n_step1") > 0, F.round(F.col("n_step2") / F.col("n_step1"), 6)
            ).alias("conv_2"),
            F.when(
                F.col("n_step1") > 0, F.round(F.col("n_step3") / F.col("n_step1"), 6)
            ).alias("conv_3"),
        )
    )


from ..operators.text import hashed_vectorize  # noqa: E402


def _hashed_doc_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick document vectors (dim=16), checkpointed and
    memoized per (session, sf_dir) — shared by text_hashed_vectors,
    text_topic_clusters and text_ann_topk, and materialized ONCE even
    within a single plan (text_ann_topk's corpus and probe sides both
    read the same cached frame instead of re-vectorizing the corpus
    twice; round-6 bench attribution)."""
    return _cached_canon(
        spark, sf_dir, "hashed_vec_16",
        lambda: hashed_vectorize(
            load_table(spark, sf_dir, "documents"), dim=16
        ).localCheckpoint(eager=False),
    )


@_q(
    "text_hashed_vectors",
    """
WITH __w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
             FROM documents),
__b AS (SELECT doc_id,
               list_transform(ws, w ->
                 CAST(('0x' || substring(md5(w), 1, 8))::VARCHAR::UBIGINT % 16 AS BIGINT)) AS bks
        FROM __w),
__v AS (SELECT doc_id,
               list_transform(range(16), d -> CAST(len(list_filter(bks, b -> b = d)) AS BIGINT)) AS vec
        FROM __b)
SELECT doc_id, vec[1] AS v0, vec[2] AS v1, vec[3] AS v2, vec[4] AS v3,
       CAST(list_sum(vec) AS BIGINT) AS n_tokens,
       round(sqrt(CAST(list_sum(list_transform(vec, x -> x * x)) AS DOUBLE)), 6) AS l2_norm
FROM __v
""",
    "Extension (hashing-trick vectorizer): vocabulary-free text -> 16-dim count vector "
    "via md5(token) % dim — the stateless text-to-embedding bridge feeding the vector "
    "operators from raw text; map-only single fold, engine-bit-identical. Emitted as "
    "head components + scalar summaries (full-array equality in tests).",
)
def text_hashed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _hashed_doc_vecs(spark, sf_dir)
    tok_sum = F.aggregate(F.col("vec"), F.lit(0).cast("long"), lambda a, x: a + x)
    return out.select(
        "doc_id",
        *[F.col("vec")[i].alias(f"v{i}") for i in range(4)],
        tok_sum.alias("n_tokens"),
        "l2_norm",
    )


@_q(
    "idle_rich_customers_by_nation",
    """
WITH __avg AS (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0),
__last AS (SELECT o_custkey, max(o_orderdate) AS last_o FROM orders GROUP BY 1)
SELECT c.c_nationkey, count(*) AS n_cust,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer c CROSS JOIN __avg a JOIN __last l ON l.o_custkey = c.c_custkey
WHERE c.c_acctbal > a.ab AND l.last_o < TIMESTAMP '2000-06-01'
GROUP BY c.c_nationkey
""",
    "Extension (TPC-H Q22-style, dormancy variant): above-average-balance customers "
    "whose LAST order predates the cutoff, counted per nation — scalar-subquery "
    "threshold (one broadcast row) + custkey-grouped last-order date joined "
    "co-partitioned, decimal-exact balance sums surfaced as double.",
)
def idle_rich_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    last = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("last_o")
    )
    idle = rich.join(last, "c_custkey").filter(
        F.col("last_o") < F.lit("2000-06-01").cast("timestamp")
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
    )


@_q(
    "part_type_supplier_counts",
    """
SELECT p.p_brand, p.p_type, count(DISTINCT ps.s_suppkey) AS n_suppliers
FROM part p
JOIN (SELECT l_partkey, l_suppkey AS s_suppkey FROM lineitem) ps
  ON p.p_partkey = ps.l_partkey
WHERE ps.s_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < -500)
GROUP BY 1, 2
""",
    "Extension (TPC-H Q16-style): distinct supplier counts per (brand, type) with a "
    "NOT-IN supplier exclusion — the exclusion list is tiny and broadcasts as an anti "
    "join; the distinct count rides the (partkey-joined) fact relation.",
)
def part_type_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_suppkey").alias("s_suppkey")
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < -500)
        .select("s_suppkey")
    )
    j = (
        li.join(bad, "s_suppkey", "left_anti")
        .join(F.broadcast(p.select("p_partkey", "p_brand", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
    )
    return j.groupBy("p_brand", "p_type").agg(
        F.countDistinct("s_suppkey").alias("n_suppliers")
    )


from ..operators.sampling import weighted_hash_sample  # noqa: E402
from ..operators.similarity import label_feature_stats  # noqa: E402


@_q(
    "documents_weighted_sample",
    f"""
WITH __d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
__m AS (SELECT max(n_tokens) AS mx FROM __d)
SELECT d.doc_id, CAST(d.n_tokens AS BIGINT) AS n_tokens
FROM __d d CROSS JOIN __m m
WHERE CAST({_BUCKET_SQL.format(k='d.doc_id')} AS DOUBLE)
      < 3000.0 * d.n_tokens / m.mx
""",
    "Extension (training-mix curation): deterministic length-weighted document sample — "
    "keep-probability proportional to token count (P = 0.3 * w / max_w), one broadcast "
    "max-weight scalar, map-side md5 keep test; reproducible across engines/runs/"
    "partitionings unlike rand()-weighted sampling.",
)
def documents_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.size(F.split(F.col("text"), " "))
    out = weighted_hash_sample(docs, "doc_id", w, 0.3)
    return out.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )


@_q(
    "embedding_label_feature_stats",
    """
SELECT label, pos - 1 AS pos,
       round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mean_val,
       round(sqrt(greatest(
         CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) / count(*)
         - (CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*))
           * (CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*)), 0.0)), 6) AS std_val,
       count(*) AS n_vecs
FROM (SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
      WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0)
GROUP BY 1, 2
""",
    "Extension (feature normalization): per-label per-dimension mean and std — the "
    "z-scoring statistics fit, decimal-summed two-moment form (engine-identical), one "
    "(label, dim) shuffle; the two-moment extension of embedding_label_centroids.",
)
def embedding_label_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_feature_stats(load_table(spark, sf_dir, "embeddings"))


@_q(
    "events_hourly_profile",
    """
SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,  -- DuckDB 0=Sun; Spark 1=Sun
       CAST(hour(ts) AS BIGINT) AS hod,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
""",
    "Extension (temporal profiling): the day-of-week x hour-of-day activity heatmap — "
    "one map-side-combined aggregation to a fixed 7x24 grid; the seasonality fingerprint "
    "behind anomaly baselines and load planning.",
)
def events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


from ..operators.similarity import hard_negatives  # noqa: E402


@_q(
    "embedding_hard_negatives",
    f"""
WITH __e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__a AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS av FROM __e
        WHERE vec_id < 10),
__s AS (SELECT a.anchor_id, a.anchor_label, e.vec_id AS negative_id,
               e.label AS negative_label,
               {_COS_SQL.format(a='a.av', b='e.v')} AS cos
        FROM __a a CROSS JOIN __e e WHERE e.label <> a.anchor_label)
SELECT anchor_id, anchor_label, negative_id, negative_label, cos,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY cos DESC, negative_id) AS rnk FROM __s)
WHERE rnk <= 3
""",
    "Extension (contrastive training prep): hard-negative mining — per anchor the 3 most "
    "similar DIFFERENT-label vectors (near-boundary negatives); brute-force shape with "
    "the label predicate fused into the broadcast scan join, IVF/LSH-swappable at scale.",
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 10), k=3)


_HASHED_VEC_SOURCE = """
SELECT doc_id AS vec_id,
       list_transform(range(16), d -> CAST(len(list_filter(bks, b -> b = d)) AS DOUBLE)) AS v
FROM (SELECT doc_id,
             list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
               w -> CAST(('0x' || substring(md5(w), 1, 8))::VARCHAR::UBIGINT % 16 AS BIGINT)) AS bks
      FROM documents WHERE text IS NOT NULL)"""


def _text_topic_oracle(n_cells: int, train_iters: int) -> str:
    cos = _COS_SQL
    prefix, cur = _kmeans_train_ctes(n_cells, train_iters, None, source=_HASHED_VEC_SOURCE)
    return (
        prefix
        + f"""__asg AS (SELECT e.vec_id, s.seed_id, {cos.format(a='e.v', b='s.sv')} AS c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='s.sv')} DESC, s.seed_id) AS r
           FROM __e e CROSS JOIN {cur} s),
__fin AS (SELECT a.vec_id, a.seed_id AS cluster_id, a.c, d.lang AS label
         FROM __asg a JOIN documents d ON d.doc_id = a.vec_id WHERE a.r = 1),
__st AS (SELECT cluster_id, count(*) AS n_vecs,
                round(CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS avg_cos
         FROM __fin GROUP BY 1),
__lc AS (SELECT cluster_id, label, count(*) AS n FROM __fin GROUP BY 1, 2),
__top AS (SELECT cluster_id, label AS top_label, n
          FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                             ORDER BY n DESC, label) AS r FROM __lc)
          WHERE r = 1)
SELECT s.cluster_id, s.n_vecs, s.avg_cos, t.top_label,
       round(CAST(t.n AS DOUBLE) / s.n_vecs, 6) AS top_label_share
FROM __st s JOIN __top t USING (cluster_id)
"""
    )


@_q(
    "text_topic_clusters",
    _text_topic_oracle(4, 2),
    "Extension (cross-modal capstone): topic bucketing of raw TEXT entirely in-engine — "
    "hashing-trick vectorizer (vocabulary-free, map-only) feeding the shared spherical "
    "k-means Lloyd loop (k=4, 2 iterations, decimal-stable codebook); per-cluster size, "
    "mean member cosine and majority-language purity, with the full vectorize+train "
    "pipeline replayed by the SQL oracle.",
)
def text_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hv = _hashed_doc_vecs(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), F.col("vec")
    )
    labeled = hv.join(
        docs.select(F.col("doc_id").alias("vec_id"), F.col("lang")), "vec_id"
    )
    return kmeans_cluster_stats(
        labeled, id_col="vec_id", vec_col="vec", label_col="lang", n_cells=4, train_iters=2
    )


@_q(
    "embedding_triplet_candidates",
    f"""
WITH __e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__a AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS av FROM __e
        WHERE vec_id < 10),
__s AS (SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
               {_COS_SQL.format(a='a.av', b='e.v')} AS cos
        FROM __a a CROSS JOIN __e e WHERE e.vec_id <> a.anchor_id),
__pos AS (SELECT anchor_id, anchor_label, vec_id AS pos_id, cos AS pos_cos
          FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                          ORDER BY cos ASC, vec_id) AS r
                FROM __s WHERE label = anchor_label)
          WHERE r = 1),
__neg AS (SELECT anchor_id, vec_id AS neg_id, cos AS neg_cos
          FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                          ORDER BY cos DESC, vec_id) AS r
                FROM __s WHERE label <> anchor_label)
          WHERE r = 1)
SELECT p.anchor_id, p.anchor_label, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
       round(p.pos_cos - n.neg_cos, 6) AS margin
FROM __pos p JOIN __neg n USING (anchor_id)
""",
    "Extension (metric-learning data prep): per-anchor hardest triplet — the LEAST "
    "similar same-label positive and the MOST similar different-label negative, with the "
    "(often negative) margin between them; one broadcast anchor scan ranked twice, the "
    "triplet-mining step before a contrastive training run.",
)
def embedding_triplet_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import _cos, _drop_null_vec, _with_vec

    emb = _drop_null_vec(load_table(spark, sf_dir, "embeddings"), "embedding")
    a = _with_vec(
        emb.filter(F.col("vec_id") < 10),
        "embedding",
        "a",
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
    )
    v = _with_vec(emb, "embedding", "v", "vec_id", "label")
    s = (
        v.crossJoin(F.broadcast(a))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select("anchor_id", "anchor_label", "vec_id", "label", _cos("a", "v").alias("cos"))
    )
    wp = Window.partitionBy("anchor_id").orderBy(F.col("cos").asc(), F.col("vec_id").asc())
    pos = (
        s.filter(F.col("label") == F.col("anchor_label"))
        .withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") == 1)
        .select("anchor_id", "anchor_label", F.col("vec_id").alias("pos_id"),
                F.col("cos").alias("pos_cos"))
    )
    wn = Window.partitionBy("anchor_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    neg = (
        s.filter(F.col("label") != F.col("anchor_label"))
        .withColumn("r", F.row_number().over(wn))
        .filter(F.col("r") == 1)
        .select("anchor_id", F.col("vec_id").alias("neg_id"), F.col("cos").alias("neg_cos"))
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id", "anchor_label", "pos_id", "pos_cos", "neg_id", "neg_cos",
        F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
    )


@_q(
    "lang_id_confusion_matrix",
    f"""
WITH __ptri AS (
  SELECT DISTINCT doc_id, lang, unnest(list_transform(
           range(1, len(text) - 1), i -> substring(text, i, 3))) AS tri
  FROM documents
  WHERE len(text) >= 3 AND lang IS NOT NULL AND {_BUCKET_SQL.format(k='doc_id')} < 5000),
__df AS (SELECT lang, tri, count(*) AS df FROM __ptri GROUP BY 1, 2),
__prof AS (
  SELECT lang AS cand_lang, tri
  FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY df DESC, tri) AS r
        FROM __df)
  WHERE r <= 50),
__tri AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           range(1, len(text) - 1), i -> substring(text, i, 3))) AS tri
  FROM documents WHERE len(text) >= 3),
__ov AS (
  SELECT t.doc_id, p.cand_lang, count(*) AS hits
  FROM __tri t JOIN __prof p ON t.tri = p.tri
  GROUP BY 1, 2),
__best AS (
  SELECT doc_id, cand_lang
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS r
        FROM __ov)
  WHERE r = 1)
SELECT d.lang AS true_lang,
       coalesce(b.cand_lang, 'und') AS predicted_lang,
       count(*) AS n_docs
FROM documents d LEFT JOIN __best b ON d.doc_id = b.doc_id
GROUP BY 1, 2
""",
    "Extension (model evaluation): the trigram language-ID classifier's confusion matrix "
    "— (true, predicted) doc counts over the full corpus; the quality gate an in-engine "
    "classifier ships with (precision/recall derive directly from these cells). Shares "
    "text_lang_id_ngram's memoized scored frame — one classifier run per session.",
)
def lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _lang_id_scored(spark, sf_dir)
    return out.groupBy(
        F.col("lang").alias("true_lang"),
        F.col("lang_guess_ngram").alias("predicted_lang"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))


@_q(
    "weekly_revenue_wow",
    f"""
WITH __wk AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate IS NOT NULL
  GROUP BY 1)
SELECT week_start, revenue,
       round(CASE WHEN lag(revenue) OVER (ORDER BY week_start) > 0
                  THEN revenue / lag(revenue) OVER (ORDER BY week_start) - 1.0
             END, 6) AS wow_growth
FROM __wk
""",
    "Extension (business reporting): weekly revenue with week-over-week growth — the "
    "decimal-exact revenue aggregation rolled to week_start, then ONE ordered window "
    "over the (weeks-sized, pre-aggregated) relation; the single-partition stage is "
    "bounded by the calendar, never the fact table.",
)
def weekly_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l, o = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    # NULL order dates have no week (and would sit at opposite ends of
    # the lag window on the two engines)
    o = o.where(F.col("o_orderdate").isNotNull())
    # r12: the week is an ORDER-level attribute, so line revenue rolls
    # up to the order BEFORE the join (guide §2.3, the §12/_order_line_
    # rollup pattern) — ~4x fewer join rows, map-side partial agg before
    # the first exchange; DECIMAL re-association is exact, and rollup
    # rows whose order is filtered (NULL date) or absent drop in the
    # inner join exactly as their lines did.
    wk = (
        _order_line_rollup(l)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"))
        .agg(F.sum("__rev_d").cast("double").alias("revenue"))
    )
    w = Window.orderBy("week_start")
    prev = F.lag("revenue").over(w)
    return wk.select(
        "week_start",
        "revenue",
        F.round(
            F.when(prev > 0, F.col("revenue") / prev - F.lit(1.0)), 6
        ).alias("wow_growth"),
    )


_CLUSTER_HIST_ORACLE = f"""
WITH RECURSIVE __p AS ({_lsh_verified_oracle(0.5)}),
__eg AS (SELECT doc_a AS s, doc_b AS d FROM __p
         UNION SELECT doc_b, doc_a FROM __p),
__r AS (SELECT s AS v, d AS w FROM __eg
        UNION
        SELECT r.v, e.d FROM __r r JOIN __eg e ON r.w = e.s),
__lbl AS (SELECT v AS doc_id, least(v, min(w)) AS canonical_id FROM __r GROUP BY v),
__all AS (SELECT d.doc_id, coalesce(l.canonical_id, d.doc_id) AS canonical_id
          FROM documents d LEFT JOIN __lbl l USING (doc_id)),
__sz AS (SELECT canonical_id, count(*) AS cluster_size FROM __all GROUP BY 1)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM __sz GROUP BY cluster_size
"""


@_q(
    "dedup_cluster_size_histogram",
    _CLUSTER_HIST_ORACLE,
    "Extension (dedup diagnostics): duplicate-cluster size histogram — how many clusters "
    "of each size the near-dup graph produces and how many docs they hold (size 1 = "
    "unique docs; sum(n_docs) = corpus; sum over size>1 of (size-1) = docs removable by "
    "canonicalization) — the headline duplication stat of a corpus audit.",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = _doc_canonical_map(spark, sf_dir)
    sizes = canon.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


_GRAM_W = 8
_GRAM_CTE = f"""
__gw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
__gg AS (SELECT doc_id,
           unnest(list_transform(range(1, len(ws) - {_GRAM_W - 2}),
                  i -> array_to_string(ws[i:i+{_GRAM_W - 1}], ' '))) AS sh
         FROM __gw)
"""


@_q(
    "dedup_repeated_grams",
    f"""
WITH {_GRAM_CTE},
__hot AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS df
                          FROM __gg GROUP BY sh) WHERE df >= 2),
__dup AS (SELECT doc_id, count(*) AS n_dup FROM __gg JOIN __hot USING (sh)
          GROUP BY doc_id),
__tot AS (SELECT doc_id, greatest(len(ws) - {_GRAM_W - 1}, 0) AS n_grams FROM __gw)
SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_grams,
       CASE WHEN t.n_grams > 0
            THEN CAST(coalesce(d.n_dup, 0) AS DOUBLE) / t.n_grams
            ELSE 0.0 END AS dup_share
FROM __tot t LEFT JOIN __dup d USING (doc_id)
""",
    "Extension (exact-substring dedup, Lee et al. 2022 restated distributed): per-doc "
    "fraction of 8-token windows that appear verbatim in >=2 distinct documents — the "
    "span-level boilerplate profile suffix-array dedup pipelines threshold on.",
)
def dedup_repeated_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _repeated_gram_shares(spark, sf_dir)


def _repeated_gram_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc repeated-8-gram profile (doc_id, n_grams, n_dup_grams,
    dup_share), memoized per (session, sf_dir) — dedup_repeated_grams
    returns it directly and corpus_keep_verdict joins it, so the
    corpus-scale windowed-gram explode runs once per session instead of
    once per consumer.  Doc-level narrow rows (the lang-ID scored-frame
    precedent: corpus-cardinality but 4 scalar columns); the lazy
    localCheckpoint also truncates the explode lineage out of consumer
    plans (r11)."""

    def build() -> DataFrame:
        from ..operators.dedup import repeated_gram_stats

        return repeated_gram_stats(
            load_table(spark, sf_dir, "documents"), w=_GRAM_W
        ).localCheckpoint(eager=False)

    return _cached_canon(spark, sf_dir, f"repeated_gram_shares_{_GRAM_W}", build)


@_q(
    "corpus_repeated_gram_hotlist",
    f"""
WITH {_GRAM_CTE}
SELECT sh AS gram, count(DISTINCT doc_id) AS df, count(*) AS n_occ
FROM __gg GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occ DESC, df DESC, gram LIMIT 50
""",
    "Extension (exact-substring dedup diagnostics): the 50 most-repeated cross-document "
    "8-token windows (what the boilerplate IS) — fully tiebroken top-k, "
    "TakeOrderedAndProject physical shape.",
)
def corpus_repeated_gram_hotlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import repeated_gram_hotlist

    return repeated_gram_hotlist(load_table(spark, sf_dir, "documents"), w=_GRAM_W)


@_q(
    "events_near_purchases",
    """
WITH __p AS (SELECT event_id AS purchase_id, CAST(floor(epoch(ts)) AS BIGINT) AS pts
             FROM events WHERE event_type = 'purchase'),
__c AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS cts
        FROM events WHERE event_type = 'click'),
__m AS (SELECT purchase_id, count(*) AS n
        FROM __p JOIN __c ON cts >= pts - 30 AND cts <= pts + 30
        GROUP BY purchase_id)
SELECT p.purchase_id, CAST(coalesce(m.n, 0) AS BIGINT) AS n_nearby_clicks
FROM __p p LEFT JOIN __m m USING (purchase_id)
""",
    "Extension (keyless range join, binned): per purchase event, how many click events — "
    "from ANY user — landed within ±30 s.  The naive non-equi formulation is a "
    "BroadcastNestedLoopJoin; range_join_binned restates it as a hash-partitionable "
    "equi-join on 60 s time bins (each left window spans <= 2 bins, each right row exactly "
    "1 — every qualifying pair meets in exactly one bin).",
)
def events_near_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import range_join_binned

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").cast("long").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(F.col("ts").cast("long").alias("cts"))
    matched = (
        range_join_binned(p, c, "pts", "cts", lower_seconds=30, upper_seconds=30)
        .groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return p.select("purchase_id").join(matched, "purchase_id", "left").select(
        "purchase_id", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_nearby_clicks")
    )


def _semdedup_oracle(n_cells: int, train_iters: int, tau: float) -> str:
    cos = _COS_SQL
    prefix, cur = _kmeans_train_ctes(n_cells, train_iters, None)
    return (
        prefix
        + f"""__sdasg AS (SELECT e.vec_id, e.v, s.seed_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='s.sv')} DESC, s.seed_id) AS r
           FROM __e e CROSS JOIN {cur} s),
__sdm AS (SELECT vec_id, v, seed_id AS cluster_id FROM __sdasg WHERE r = 1),
__sdp AS (SELECT b.vec_id, max({cos.format(a='a.v', b='b.v')}) AS best_prior_cos
          FROM __sdm a JOIN __sdm b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE {cos.format(a='a.v', b='b.v')} >= {tau}
          GROUP BY b.vec_id)
SELECT m.vec_id, m.cluster_id,
       CAST(CASE WHEN p.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS is_semdup,
       p.best_prior_cos
FROM __sdm m LEFT JOIN __sdp p USING (vec_id)
"""
    )


#: Adaptive SemDeDup blocking: cells scale with the corpus so
#: per-cluster size (and the within-cluster quadratic term) stays
#: ~constant.  max(8, n // 500) keeps the driver SFs at 8 cells
#: (unchanged results) and held the round-5 sf1->sf3 slope linear —
#: the fixed-8 variant measured 15.3x at 3x the vectors (BENCH_DIFF).
_SEMDEDUP_CELLS_PER = 500


def _semdedup_cells(n: int) -> int:
    return max(8, n // _SEMDEDUP_CELLS_PER)


@_q(
    "semantic_dedup_flags",
    _semdedup_oracle(
        f"(SELECT greatest(8, count(*) // {_SEMDEDUP_CELLS_PER}) FROM __et)", 2, 0.4
    ),
    "Extension (SemDeDup, Abbas et al. 2023): semantic dedup by k-means blocking — "
    "vectors compared only within their cluster, flagged when a smaller-id cluster-mate "
    "has cosine >= 0.4 (greedy keep-first).  Oracle replays the full Lloyd training loop. "
    "Blocking is ADAPTIVE (round 5): n_cells = max(8, n/500) derived from the corpus on "
    "both engines — n counts the CONTRACT-VALID vectors (NULL/non-finite/insane rows "
    "excluded) on the Spark side exactly as the oracle's scalar subquery counts the "
    "filtered __et relation, so a corrupt-vector corpus straddling a 500-row boundary "
    "can't train different codebooks on the two engines (round-6 ADVICE); the count "
    "is one eager 1-row job per call.  Per-cluster size — and the "
    "within-cluster quadratic term — stays constant as the corpus grows; the "
    "fixed-cell variant measured super-linear at 30x (BENCH_DIFF round-5).",
)
def semantic_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _drop_null_vec, semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    n_valid = _drop_null_vec(emb, "embedding").count()
    return semantic_dedup(emb, n_cells=_semdedup_cells(n_valid), train_iters=2, tau=0.4)


@_q(
    "disjunctive_brand_revenue",
    f"""
SELECT CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue, count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
""",
    "Extension: TPC-H Q19-style disjunctive predicate revenue — three OR'd "
    "(brand, size, quantity) branches across the join; Catalyst extracts the "
    "per-side OR-unions (brand/size to the part scan, quantity to lineitem) so both "
    "scans prune before the join.",
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    branch = (
        ((b == "Brand#1") & sz.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#3") & sz.between(10, 30) & q.between(10, 35))
        | ((b == "Brand#5") & sz.between(20, 50) & q.between(20, 50))
    )
    return (
        l.join(F.broadcast(p), (F.col("p_partkey") == F.col("l_partkey")) & branch)
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "large_volume_customers",
    """
WITH __big AS (SELECT l_orderkey,
                      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
               FROM lineitem GROUP BY 1
               HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
SELECT c_name, o_orderkey AS order_id,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts,
       CAST(o_totalprice AS DOUBLE) AS total_price, sum_qty
FROM __big JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
""",
    "Extension: TPC-H Q18-style large-volume orders — per-order quantity aggregate "
    "filtered BEFORE the customer/orders joins (the aggregate, not the fact table, "
    "drives the join), decimal-stable sums.",
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c = (load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer"))
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("__qd"))
        .filter(F.col("__qd") > 250)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            F.col("o_orderkey").alias("order_id"),
            F.col("o_orderdate").cast("long").alias("order_ts"),
            F.col("o_totalprice").cast("double").alias("total_price"),
            F.col("__qd").cast("double").alias("sum_qty"),
        )
    )


@_q(
    "sole_late_suppliers",
    """
WITH __l1 AS (SELECT l_orderkey, l_suppkey,
                     max(CASE WHEN epoch(l_shipdate) > epoch(o_orderdate) + 2592000.0
                              THEN 1 ELSE 0 END) AS late
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              GROUP BY 1, 2),
__o AS (SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
        FROM __l1 GROUP BY 1),
__sole AS (SELECT a.l_suppkey FROM __l1 a JOIN __o USING (l_orderkey)
           WHERE a.late = 1 AND n_supp > 1 AND n_late = 1)
SELECT s_name, count(*) AS numwait
FROM __sole JOIN supplier ON s_suppkey = l_suppkey
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
""",
    "Extension: TPC-H Q21-style suppliers-who-kept-orders-waiting — the correlated "
    "EXISTS / NOT EXISTS pair restated as one (order, supplier) aggregate + an "
    "order-level count join (late = shipped >30 d after order): the scale-correct "
    "decorrelation, no per-row subquery re-scan.  Fully tiebroken top-20.",
)
def sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l, o, s = (load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "supplier"))
    # r11: aggregate lineitem to (orderkey, suppkey, max shipdate) BEFORE
    # the orders join (guide §2.3 "aggregate before you shuffle") — the
    # join then carries one row per order-supplier instead of every
    # line.  late = max(ship) > orderdate+30d ≡ max over lines of
    # (ship > orderdate+30d): o_orderdate is constant per order and
    # cast-to-long is monotone, so the flag is unchanged (NULL ships
    # are skipped by max in both forms).
    ls = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("l_shipdate").cast("long")).alias("__max_ship")
    )
    l1 = ls.join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("__max_ship") > F.col("o_orderdate").cast("long") + 30 * DAY)
        .cast("int")
        .alias("late"),
    )
    # r11: the order-level (n_supp, n_late) counts as a window over the
    # SAME l_orderkey key instead of a groupBy + self-join — one keyed
    # shuffle instead of an aggregate exchange plus a join back
    # (guide §2.4 "window partitioned like the aggregation needs no
    # second shuffle").  Counts are integers — order-insensitive,
    # result-identical.
    w = Window.partitionBy("l_orderkey")
    sole = (
        l1.select(
            "l_orderkey",
            "l_suppkey",
            "late",
            F.count(F.lit(1)).over(w).alias("n_supp"),
            F.sum("late").over(w).alias("n_late"),
        )
        .filter((F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        sole.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@_q(
    "frequent_part_pairs",
    """
WITH __bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
__n AS (SELECT count(DISTINCT b) AS n FROM __bi),
__f AS (SELECT i, count(*) AS f FROM __bi GROUP BY i),
__p AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS support
        FROM __bi a JOIN __bi b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 3)
SELECT item_a AS part_a, item_b AS part_b, support,
       round(CAST(support AS DOUBLE) * n / (fa.f * fb.f), 6) AS lift
FROM __p JOIN __f fa ON fa.i = item_a JOIN __f fb ON fb.i = item_b CROSS JOIN __n
ORDER BY support DESC, lift DESC, part_a, part_b LIMIT 100
""",
    "Extension (frequent itemsets): A-priori pair level over order baskets — parts "
    "co-ordered in >= 3 orders with lift vs independence; pair generation is quadratic "
    "only within a basket, then one pair-keyed partial-aggregated count.  Fully "
    "tiebroken top-100.",
)
def frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.itemsets import frequent_pairs

    return frequent_pairs(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", min_support=3
    ).select(
        F.col("item_a").alias("part_a"), F.col("item_b").alias("part_b"), "support", "lift"
    )


def _profile_branch(col: str, numeric: bool) -> str:
    mn = f"CAST(min({col}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
    mx = f"CAST(max({col}) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)"
    sn = f"min({col})" if not numeric else "CAST(NULL AS VARCHAR)"
    sx = f"max({col})" if not numeric else "CAST(NULL AS VARCHAR)"
    return (
        f"SELECT '{col}' AS column_name, count(*) AS n_rows, "
        f"CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
        f"count(DISTINCT {col}) AS n_distinct, {mn} AS min_num, {mx} AS max_num, "
        f"{sn} AS min_str, {sx} AS max_str FROM orders"
    )


@_q(
    "orders_profile",
    " UNION ALL ".join(
        [
            _profile_branch("o_orderkey", True),
            _profile_branch("o_custkey", True),
            _profile_branch("o_totalprice", True),
            _profile_branch("o_orderstatus", False),
            _profile_branch("o_orderpriority", False),
        ]
    ),
    "Extension (data quality): single-pass per-column profile of the orders table — "
    "null counts, exact cardinalities, numeric/string ranges; ONE aggregation pass + a "
    "1-row stack unpivot (the oracle's UNION ALL re-scans per column; the engine must "
    "not).",
)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_table

    return profile_table(
        load_table(spark, sf_dir, "orders"),
        numeric_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        string_cols=["o_orderstatus", "o_orderpriority"],
    )


@_q(
    "event_type_dow_cube",
    """
WITH __pre AS (
  SELECT event_type, (CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS dow,
         count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, dow, CAST(sum(n) AS BIGINT) AS n_events,
       CAST(GROUPING(event_type, dow) AS BIGINT) AS gid
FROM __pre GROUP BY CUBE (event_type, dow)
HAVING count(*) > 0
""",
    "Extension: CUBE over (event_type, day-of-week) with GROUPING id — all four "
    "aggregation levels in one pass; pre-aggregated to the 35 base groups before the "
    "Expand (4 rows per input) exactly like the rollup query, and dow computed "
    "epoch-numerically ((days+4) mod 7) so no engine calendar is involved.",
)
def event_type_dow_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dow = (floor_div(F.col("ts").cast("long"), F.lit(86400)) + 4) % 7
    pre = ev.groupBy(F.col("event_type"), dow.alias("dow")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        pre.cube("event_type", "dow")
        .agg(F.sum("n").alias("n_events"), F.grouping_id().alias("gid"))
        .select("event_type", "dow", "n_events", F.col("gid").cast("long").alias("gid"))
    )


def _pagerank_oracle(iters: int = 3, damping: float = 0.85) -> str:
    rounds = ""
    cur = "__r0"
    for i in range(iters):
        rounds += f"""__a{i} AS (SELECT e.d AS s,
            CAST(sum(CAST(r.pr / r.deg AS DECIMAL(28,12))) AS DOUBLE) AS sm
            FROM __e e JOIN {cur} r ON r.s = e.s GROUP BY e.d),
__r{i + 1} AS (SELECT g.s, g.deg, round({1.0 - damping} / n.n + {damping} * a.sm, 6) AS pr
            FROM __deg g CROSS JOIN __n n JOIN __a{i} a ON a.s = g.s),
"""
        cur = f"__r{i + 1}"
    return f"""
WITH __pairs AS ({_lsh_verified_oracle(0.5)}),
__e AS (SELECT doc_a AS s, doc_b AS d FROM __pairs
        UNION SELECT doc_b, doc_a FROM __pairs),
__deg AS (SELECT s, count(*) AS deg FROM __e GROUP BY s),
__n AS (SELECT count(*) AS n FROM __deg),
__r0 AS (SELECT g.s, g.deg, round(1.0 / n.n, 6) AS pr
         FROM __deg g CROSS JOIN __n n),
{rounds}__fin AS (SELECT s AS doc_id, pr FROM {cur})
SELECT doc_id, pr FROM __fin
"""


@_q(
    "dedup_pagerank",
    _pagerank_oracle(3, 0.85),
    "Extension (iterative graph algorithm #2): PageRank over the MinHash-LSH verified "
    "near-dup graph (3 rounds, damping 0.85, undirected) — centrality inside duplicate "
    "clusters picks the canonical representative; decimal-stable per-round sums let the "
    "oracle replay every round.  Reuses the session-shared pair set.",
)
def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    return pagerank(_doc_lsh_pairs(spark, sf_dir), "doc_a", "doc_b", iters=3).select(
        F.col("id").alias("doc_id"), "pr"
    )


@_q(
    "latest_event_per_user",
    """
WITH __r AS (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events
  FROM events)
SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
       event_type AS last_type, event_id AS last_event_id, n_events
FROM __r WHERE rn = 1
""",
    "Extension (compaction / latest-state snapshot): one row per user with the most "
    "recent event via max_by over a (ts, event_id) ordering struct — the argmax "
    "AGGREGATE form (one partial-aggregated shuffle, no per-user sort), vs the oracle's "
    "window formulation.  The CDC-style 'current state' materialization.",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max("ts").cast("long").alias("last_ts"),
        F.max_by("event_type", ordk).alias("last_type"),
        F.max_by("event_id", ordk).alias("last_event_id"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_q(
    "event_type_transitions",
    """
WITH __l AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events WHERE ts IS NOT NULL),
__t AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM __l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
__s AS (SELECT prev_type, sum(n) AS tot FROM __t GROUP BY 1)
SELECT t.prev_type, t.next_type, t.n,
       round(CAST(t.n AS DOUBLE) / s.tot, 6) AS p
FROM __t t JOIN __s s USING (prev_type)
""",
    "Extension (sequence analytics): first-order Markov transition matrix of "
    "event types per user timeline — lag window keyed on the user (the shuffle the "
    "sessionizer already pays), then a 25-group count and per-row conditional "
    "probability.",
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        F.lag("event_type").over(w).alias("prev_type"), F.col("event_type").alias("next_type")
    ).filter(F.col("prev_type").isNotNull())
    t = lagged.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    s = t.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return t.join(s, "prev_type").select(
        "prev_type", "next_type", "n", F.round(F.col("n") / F.col("tot"), 6).alias("p")
    )


@_q(
    "value_histogram",
    """
SELECT event_type, CAST(least(floor(value / 50), 9) AS BIGINT) AS bucket,
       count(*) AS n,
       CAST(min(value) AS DOUBLE) AS lo, CAST(max(value) AS DOUBLE) AS hi
FROM events WHERE value IS NULL OR isfinite(value)
GROUP BY 1, 2
""",
    "Extension (profiling): fixed-width value histogram per event type — width 50 "
    "capped at bucket 9; one partial-aggregated shuffle over (type, bucket), the "
    "distribution sketch a pipeline stores per ingest batch.",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # non-finite measures excluded by contract (floor(±Inf) cannot be a
    # bucket; a NaN would silently land in bucket 9 via least()'s
    # NaN-is-largest ordering)
    ev = load_table(spark, sf_dir, "events").where(_finite_or_null("value"))
    bucket = F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("long")
    return ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").cast("double").alias("lo"),
        F.max("value").cast("double").alias("hi"),
    )


@_q(
    "weekly_uv_from_daily_sketches",
    None,  # Datasketches HLL buffers — not SQL-reproducible; tolerance-tested vs exact
    "Extension (mergeable sketches): weekly UV computed by UNIONING per-day HLL "
    "sketches (hll_sketch_agg -> hll_union_agg -> estimate) — the store-daily-sketches "
    "pattern that answers any date-range distinct query WITHOUT rescanning raw events; "
    "at 100 TB the daily sketch table is KB-sized per (day), and re-aggregation cost is "
    "independent of event volume.",
)
def weekly_uv_from_daily_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = floor_div(F.col("ts").cast("long"), F.lit(86400))
    week = floor_div(day, 7)
    daily = ev.groupBy(week.alias("week"), day.alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return (
        daily.groupBy("week")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("uv_est"))
    )


@_q(
    "weekly_uv_exact",
    """
SELECT CAST(floor(floor(epoch(ts) / 86400) / 7) AS BIGINT) AS week,
       CAST(count(DISTINCT user_id) AS BIGINT) AS uv
FROM events GROUP BY 1
""",
    "Exact twin of weekly_uv_from_daily_sketches (driver-rotation insurance — the "
    "sketch query is rows-only by design, this sibling is oracle-exact): weekly "
    "distinct users via one (week, user) pre-distinct then a count — the two-level "
    "exact shape whose partial aggregation bounds the shuffle to distinct pairs.  "
    "The HLL estimate is tolerance-tested against this twin "
    "(tests/test_scale_utilities.py).",
)
def weekly_uv_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = floor_div(F.col("ts").cast("long"), F.lit(86400))
    week = floor_div(day, 7)
    # user_id IS NOT NULL: the pre-distinct + count(*) restatement of
    # count(DISTINCT user_id) must skip NULL users exactly as the ANSI
    # aggregate does — a NULL user is not a visitor
    return (
        ev.where(F.col("user_id").isNotNull())
        .select(week.alias("week"), "user_id")
        .distinct()
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("uv"))
    )


@_q(
    "pattern_value_spike",
    """
WITH __l AS (
  SELECT user_id, event_id, value, ts,
         lag(value) OVER w AS prev_value,
         lag(ts) OVER w AS prev_ts
  FROM events WHERE value IS NULL OR isfinite(value)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, CAST(floor(epoch(prev_ts)) AS BIGINT) AS prev_ts,
       CAST(floor(epoch(ts)) AS BIGINT) AS spike_ts,
       CAST(prev_value AS DOUBLE) AS prev_value, CAST(value AS DOUBLE) AS spike_value
FROM __l
WHERE prev_value IS NOT NULL AND value >= 2 * prev_value
  AND epoch(ts) - epoch(prev_ts) <= 3600.0
""",
    "Extension (CEP iterative condition): consecutive same-user events where the next "
    "value at least DOUBLES the previous within 1 h — the predicate references the "
    "matched event's own fields (flink-cep IterativeCondition), which the lag-window "
    "restatement gets for free; value comparison is pure IEEE, engine-exact.",
)
def pattern_value_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # a NaN/Inf measure can neither be a spike base nor a spike value —
    # excluded by contract BEFORE the lag pairing so run adjacency
    # matches the oracle
    ev = load_table(spark, sf_dir, "events").where(_finite_or_null("value"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        F.col("ts"),
        F.col("value"),
        F.lag("value").over(w).alias("prev_value"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    # FRACTIONAL gap seconds (cast to double), matching the oracle's
    # epoch() — a floored long diff would admit gaps in (3600, 3601)
    return lagged.filter(
        F.col("prev_value").isNotNull()
        & (F.col("value") >= 2 * F.col("prev_value"))
        & (F.col("ts").cast("double") - F.col("prev_ts").cast("double") <= 3600.0)
    ).select(
        "user_id",
        F.col("prev_ts").cast("long").alias("prev_ts"),
        F.col("ts").cast("long").alias("spike_ts"),
        F.col("prev_value").cast("double").alias("prev_value"),
        F.col("value").cast("double").alias("spike_value"),
    )


@_q(
    "pattern_view_burst_purchase",
    """
WITH __r AS (
  SELECT user_id, ts, event_id, event_type,
         sum(CASE WHEN event_type = 'view' THEN 0 ELSE 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS seg
  FROM events WHERE ts IS NOT NULL),
__runs AS (SELECT user_id, seg + 1 AS seg, count(*) AS n_views, min(ts) AS first_a
           FROM __r WHERE event_type = 'view' GROUP BY user_id, seg),
__b AS (SELECT user_id, seg, ts AS b_ts FROM __r WHERE event_type = 'purchase')
SELECT b.user_id, CAST(floor(epoch(r.first_a)) AS BIGINT) AS first_view_ts,
       CAST(floor(epoch(b.b_ts)) AS BIGINT) AS purchase_ts, r.n_views
FROM __b b JOIN __runs r ON r.user_id = b.user_id AND r.seg = b.seg
WHERE epoch(b.b_ts) <= epoch(r.first_a) + 86400.0
""",
    "Extension (CEP looping quantifier): begin(view).oneOrMore().consecutive().greedy()"
    ".next(purchase) within 1 day — the maximal consecutive view-run immediately before "
    "each purchase, via the segment-id (running non-A count) restatement of the NFA loop "
    "state; greedy = one match per purchase.",
)
def pattern_view_burst_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the loop-quantifier shape through the declarative compiler
    # (dispatches onto pattern_one_or_more)
    from ..operators.cep import PatternStep, match_pattern

    ev = load_table(spark, sf_dir, "events")
    return match_pattern(
        ev,
        key_col="user_id",
        ts_col="ts",
        steps=[
            PatternStep(F.col("event_type") == "view", one_or_more=True),
            PatternStep(F.col("event_type") == "purchase", contiguity="strict"),
        ],
        within_seconds=DAY,
        tiebreak_col="event_id",
    ).select(
        "user_id",
        F.col("step1_ts").alias("first_view_ts"),
        F.col("step2_ts").alias("purchase_ts"),
        F.col("step1_n").alias("n_views"),
    )


@_q(
    "nation_revenue_pareto",
    f"""
WITH __cr AS (
  SELECT n_name, c_custkey, CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
__rk AS (SELECT *, percent_rank() OVER (PARTITION BY n_name
                                        ORDER BY rev DESC, c_custkey) AS pr
         FROM __cr)
SELECT n_name, count(*) AS n_customers,
       CAST(sum(CASE WHEN pr <= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
       round(CAST(sum(CASE WHEN pr <= 0.1
                      THEN CAST(rev AS DECIMAL(28,12)) ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(rev AS DECIMAL(28,12))) AS DOUBLE), 6)
         AS top_decile_share
FROM __rk GROUP BY n_name
""",
    "Extension (Pareto concentration): revenue share of each nation's top-decile "
    "customers — percent_rank over a NATION-PARTITIONED window on the pre-aggregated "
    "per-customer relation (partitioned windows scale; the global-ntile formulation "
    "would funnel every customer into one partition), then one grouped conditional "
    "sum.  Ranks tiebroken by customer key.",
)
def nation_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l, o, c, n = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer", "nation")
    )
    cr = (
        _order_line_rollup(l)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_custkey")
        .agg(F.sum("__rev_d").cast("double").alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("rev"), F.asc("c_custkey"))
    rk = cr.withColumn("pr", F.percent_rank().over(w))
    top = (F.col("pr") <= 0.1).cast("int")
    return rk.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(top).cast("long").alias("n_top"),
        # per-customer rev is a deterministic double, but summing doubles
        # is order-dependent — DECIMAL sums keep the ratio engine-exact
        F.round(
            F.sum(
                F.when(F.col("pr") <= 0.1, F.col("rev"))
                .otherwise(0.0)
                .cast("decimal(28,12)")
            ).cast("double")
            / F.sum(F.col("rev").cast("decimal(28,12)")).cast("double"),
            6,
        ).alias("top_decile_share"),
    )


@_q(
    "corpus_keep_verdict",
    f"""
WITH RECURSIVE __p AS ({_lsh_verified_oracle(0.5)}),
__eg AS (SELECT doc_a AS s, doc_b AS d FROM __p
         UNION SELECT doc_b, doc_a FROM __p),
__r AS (SELECT s AS v, d AS w FROM __eg
        UNION
        SELECT r.v, e.d FROM __r r JOIN __eg e ON r.w = e.s),
__lbl AS (SELECT v AS doc_id, least(v, min(w)) AS canonical_id FROM __r GROUP BY v),
__ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         FROM documents),
__gw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
__gg AS (SELECT doc_id,
           unnest(list_transform(range(1, len(ws) - {_GRAM_W - 2}),
                  i -> array_to_string(ws[i:i+{_GRAM_W - 1}], ' '))) AS sh
         FROM __gw),
__hot AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS df
                          FROM __gg GROUP BY sh) WHERE df >= 2),
__dup AS (SELECT doc_id, count(*) AS n_dup FROM __gg JOIN __hot USING (sh)
          GROUP BY doc_id),
__tot AS (SELECT doc_id, greatest(len(ws) - {_GRAM_W - 1}, 0) AS n_grams FROM __gw)
SELECT d.doc_id,
       CASE WHEN e.doc_id <> e.keep_id THEN 'exact_dup'
            WHEN coalesce(l.canonical_id, d.doc_id) <> d.doc_id THEN 'near_dup'
            WHEN t.n_grams > 0
                 AND CAST(coalesce(g.n_dup, 0) AS DOUBLE) / t.n_grams > 0.5
              THEN 'boilerplate'
            ELSE 'keep' END AS verdict
FROM documents d
JOIN __ex e ON e.doc_id = d.doc_id
LEFT JOIN __lbl l ON l.doc_id = d.doc_id
JOIN __tot t ON t.doc_id = d.doc_id
LEFT JOIN __dup g ON g.doc_id = d.doc_id
""",
    "Extension (pipeline capstone): the final per-document keep/drop VERDICT a dedup "
    "pipeline materializes — precedence exact_dup (not the md5-group keeper) > near_dup "
    "(LSH-verified cluster non-canonical) > boilerplate (>50% of 8-token windows "
    "duplicated cross-doc) > keep.  Composes three session-shared relations (exact "
    "fingerprints, the memoized canonical map, repeated-gram shares) — the query a "
    "downstream trainer actually consumes.",
)
def corpus_keep_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    keep = docs.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("keep_id"),
    )
    canon = _doc_canonical_map(spark, sf_dir).select("doc_id", "canonical_id")
    grams = _repeated_gram_shares(spark, sf_dir).select("doc_id", "dup_share")
    return (
        keep.join(canon, "doc_id", "left")
        .join(grams, "doc_id")
        .select(
            "doc_id",
            F.when(F.col("doc_id") != F.col("keep_id"), F.lit("exact_dup"))
            .when(
                F.coalesce(F.col("canonical_id"), F.col("doc_id")) != F.col("doc_id"),
                F.lit("near_dup"),
            )
            .when(F.col("dup_share") > 0.5, F.lit("boilerplate"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
    )


@_q(
    "event_value_percentiles_by_type",
    """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events WHERE value IS NULL OR isfinite(value)
GROUP BY event_type
""",
    "Extension (holistic aggregate, JVM-side): exact linear-interpolated value "
    "percentiles per event type via the built-in percentile() — the whole-stage-codegen "
    "complement of the applyInPandas windowed_quantiles (same math, no Python worker); "
    "both engines share the (n-1)p interpolation definition.",
)
def event_value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(_finite_or_null("value"))
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.element_at(pct, 1), 6).alias("p50"),
        F.round(F.element_at(pct, 2), 6).alias("p90"),
        F.round(F.element_at(pct, 3), 6).alias("p99"),
    )


@_q(
    "returned_item_customers",
    f"""
WITH __rev AS (
  SELECT c_custkey, c_name, n_name,
         CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS lost_revenue,
         count(*) AS n_returned_items
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY 1, 2, 3)
SELECT c_custkey AS cust_id, c_name, n_name, lost_revenue, n_returned_items
FROM __rev ORDER BY lost_revenue DESC, c_custkey LIMIT 20
""",
    "Extension: TPC-H Q10-style returned-item ranking — revenue lost to returns per "
    "customer (returnflag pushed to the lineitem scan, broadcast nation, "
    "TakeOrderedAndProject top-20, decimal-stable sums).",
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c, n = (
        load_table(spark, sf_dir, t) for t in ("lineitem", "orders", "customer", "nation")
    )
    # r12: the group keys are all ORDER-level (customer/nation via
    # o_custkey), so the returnflag-filtered line revenue rolls up per
    # order BEFORE the join chain (guide §2.3, the §12 pattern); the
    # final agg re-sums the per-order DECIMAL sums (exact re-association)
    # and re-sums the per-order line counts to the same totals.
    rev = (
        _order_line_rollup(l.filter(F.col("l_returnflag") == "R"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum("__rev_d").cast("double").alias("lost_revenue"),
            F.sum("__n_items").alias("n_returned_items"),
        )
    )
    return (
        rev.orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
        .select(
            F.col("c_custkey").alias("cust_id"),
            "c_name",
            "n_name",
            "lost_revenue",
            "n_returned_items",
        )
    )


@_q(
    "nation_trade_flows",
    f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(floor(epoch(l_shipdate) / 31536000) AS BIGINT) + 1970 AS ship_year,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS volume
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name < cn.n_name
GROUP BY 1, 2, 3
""",
    "Extension: TPC-H Q7-style bilateral trade volume — supplier-nation x customer-nation "
    "x (365-day epoch year: calendar-free, engine-exact) revenue; the nation dimension "
    "joins twice under different roles, both broadcast; ordered-pair filter halves the "
    "matrix.",
)
def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, c, s, n = (
        load_table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "supplier", "nation")
    )
    sn = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    year = floor_div(F.col("l_shipdate").cast("long"), F.lit(31536000)) + 1970
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", year.alias("ship_year"))
        .agg(F.sum(_revenue()).cast("double").alias("volume"))
    )


@_q(
    "discount_revenue_effect",
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)))
            AS DOUBLE) AS promo_revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
""",
    "Extension: TPC-H Q6-style forecast-revenue-change — pure scan-side predicate "
    "band (discount x quantity, both pushed to parquet) + one decimal-stable global "
    "aggregate; the canonical 'is the scan path fast' probe.",
)
def discount_revenue_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("promo_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _simhash_pairs_oracle(bits: int = 16, bands: int = 4, max_hamming: int = 3) -> str:
    width = bits // bands
    base = _simhash_oracle(bits).strip()
    bands_sql = ", ".join(
        f"({b}, (si >> {b * width}) & {(1 << width) - 1})" for b in range(bands)
    )
    return f"""
WITH __sigs AS ({base}),
__sig AS (SELECT doc_id, CAST(simhash::BIT AS BIGINT) AS si FROM __sigs),
__long AS (SELECT doc_id, si, bi.band_idx, bi.band_bits
           FROM __sig, LATERAL (VALUES {bands_sql}) AS bi(band_idx, band_bits)),
__cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.si AS sa, b.si AS sb
           FROM __long a JOIN __long b
             ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
            AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM __cand
WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


@_q(
    "dedup_simhash_pairs",
    _simhash_pairs_oracle(32),
    "Extension (Manku-Jarvelin-Sarma WWW'07 web dedup): near-dup pairs by 32-bit "
    "SimHash Hamming distance <= 3 — pigeonhole banding (4 blocks of 8 bits: <= 3 flips "
    "must leave one block identical) finds candidates with an equi-join; only candidates "
    "pay the XOR-popcount verify.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(load_table(spark, sf_dir, "documents"), bits=32)


def _minhash_estimate_oracle(k: int = 12, min_est: float = 0.5) -> str:
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return _minhash_cte_prefix() + f"""
SELECT c.doc_a, c.doc_b, round(({agree}) / {float(k)}, 6) AS jaccard_est
FROM __cand c JOIN __sig sa ON sa.doc_id = c.doc_a
JOIN __sig sb ON sb.doc_id = c.doc_b
WHERE ({agree}) / {float(k)} >= {min_est}
"""


@_q(
    "dedup_minhash_estimate",
    _minhash_estimate_oracle(),
    "Extension (verify-free dedup triage): Jaccard ESTIMATED as the fraction of "
    "agreeing min-hashes over LSH candidates (E[h_min(A)=h_min(B)] = J) — joins two "
    "signature-sized relations, never re-reads shingles; the first pass before exact "
    "verification at corpus scale.",
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_estimate_pairs

    return minhash_estimate_pairs(
        load_table(spark, sf_dir, "documents"), k=_MINHASH_K, bands=_MINHASH_BANDS
    )


def _incremental_dedup_oracle(threshold: float = 0.5, split: int = 9000) -> str:
    bucket = _BUCKET_SQL.format(k="doc_id")
    return _minhash_cte_prefix() + f"""
, __bk AS (SELECT doc_id, {bucket} AS bk FROM documents),
__xc AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS base_id
         FROM __b a JOIN __bk ka ON ka.doc_id = a.doc_id AND ka.bk >= {split}
         JOIN __b b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         JOIN __bk kb ON kb.doc_id = b.doc_id AND kb.bk < {split}),
__xsz AS (SELECT doc_id, count(*) AS sz FROM __sh GROUP BY doc_id),
__xcm AS (SELECT c.new_id, c.base_id, count(*) AS common
          FROM __xc c JOIN __sh x ON x.doc_id = c.new_id
          JOIN __sh y ON y.doc_id = c.base_id AND y.sh = x.sh
          GROUP BY 1, 2),
__xj AS (SELECT new_id, common * 1.0 / (xa.sz + yb.sz - common) AS j
         FROM __xcm JOIN __xsz xa ON xa.doc_id = new_id
         JOIN __xsz yb ON yb.doc_id = base_id),
__xpn AS (SELECT new_id, count(*) AS n_candidates FROM __xc GROUP BY 1),
__xbest AS (SELECT new_id, max(j) AS best_jaccard FROM __xj
            WHERE j >= {threshold} GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(pn.n_candidates, 0) AS BIGINT) AS n_candidates,
       b.best_jaccard,
       CAST(CASE WHEN b.best_jaccard IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup
FROM (SELECT doc_id FROM __bk WHERE bk >= {split}) d
LEFT JOIN __xpn pn ON pn.new_id = d.doc_id
LEFT JOIN __xbest b ON b.new_id = d.doc_id
"""


@_q(
    "dedup_incremental_flags",
    _incremental_dedup_oracle(),
    "Extension (incremental-ingest dedup, the production shape): a 10% hash-split 'new "
    "batch' probes the other 90%'s MinHash band keys — a CROSS equi-join (batch x bucket "
    "hit rate, never corpus^2) — and only candidates pay the exact Jaccard verify; per "
    "new doc: candidate count, best verified Jaccard vs the base, is_dup at 0.5.  At "
    "scale the base band keys are a materialized index each daily batch probes and "
    "appends to.",
)
def dedup_incremental_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_dedup_flags
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    return incremental_dedup_flags(
        docs.filter(b >= 9000), docs.filter(b < 9000),
        k=_MINHASH_K, bands=_MINHASH_BANDS, threshold=0.5,
    )


@_q(
    "text_ann_topk",
    f"""
WITH __e AS ({_HASHED_VEC_SOURCE}),
__q AS (SELECT vec_id AS q_id, v AS qv FROM __e WHERE vec_id < 5),
__s AS (SELECT q_id, e.vec_id AS neighbor_id,
               {_COS_SQL.format(a='qv', b='e.v')} AS cos
        FROM __e e, __q WHERE e.vec_id <> q_id),
__r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rnk
        FROM __s)
SELECT q_id, neighbor_id, cos, rnk FROM __r WHERE rnk <= 10
""",
    "Extension (cross-modal composition): top-10 most-similar DOCUMENTS per query doc "
    "with NO embedding table — the vocabulary-free hashing-trick vectorizer feeds the "
    "exact cosine search directly from raw text (swap in IVF/LSH at corpus scale); the "
    "oracle replays vectorize + search end-to-end.",
)
def text_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk

    hv = _hashed_doc_vecs(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), F.col("vec").alias("embedding")
    )
    return brute_force_topk(hv, hv.filter(F.col("vec_id") < 5), k=10)


@_q(
    "shipping_delay_histogram",
    """
SELECT CAST(floor((floor(epoch(l_shipdate)) - floor(epoch(o_orderdate))) / 86400) AS BIGINT)
         AS delay_days,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""",
    "Extension (ops metric): order-to-ship latency distribution in whole days — one "
    "fact-fact equi-join (bucketable at scale) + a delay-bounded group count; the "
    "fulfillment-SLA histogram.",
)
def shipping_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    # FLOOR division (matches SQL //) — cast-truncation would differ on
    # negative deltas if dates ever carried time-of-day parts
    delay = F.floor(
        (F.col("l_shipdate").cast("long") - F.col("o_orderdate").cast("long"))
        / F.lit(86400)
    ).cast("long")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(delay.alias("delay_days"))
        .agg(F.count(F.lit(1)).alias("n_items"))
    )


@_q(
    "vocab_growth_curve",
    f"""
WITH __w AS (SELECT {_BUCKET_SQL.format(k='doc_id')} // 1000 AS decile,
                    string_split(text, ' ') AS ws FROM documents),
__t AS (SELECT decile,
               unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS tok
        FROM __w),
__f AS (SELECT tok, CAST(min(decile) AS BIGINT) AS first_decile FROM __t GROUP BY tok),
__h AS (SELECT first_decile, count(*) AS new_tokens FROM __f GROUP BY 1)
SELECT first_decile AS decile, new_tokens,
       CAST(sum(new_tokens) OVER (ORDER BY first_decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
FROM __h
""",
    "Extension (corpus statistics, Heaps' law): BIGRAM-vocabulary growth as the corpus "
    "grows — docs split into 10 deterministic hash deciles; each bigram's FIRST decile turns "
    "cumulative-distinct (normally quadratic to compute) into one token-keyed min + a "
    "10-row cumulative sum.  Sub-linear new_tokens per decile is the Heaps-law "
    "signature a crawl-health dashboard watches.",
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    from ..operators.dedup import _shingle_expr, _split_col

    toks = docs.select(
        (hash_bucket("doc_id") / F.lit(1000)).cast("long").alias("decile"),
        _split_col("text").alias("__ws"),
    ).select(
        "decile",
        F.explode(F.expr(_shingle_expr("__ws", 2, pre_split=True))).alias("tok"),
    )
    first = toks.groupBy("tok").agg(F.min("decile").alias("first_decile"))
    hist = first.groupBy("first_decile").agg(F.count(F.lit(1)).alias("new_tokens"))
    w = Window.orderBy("first_decile").rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        F.col("first_decile").alias("decile"),
        "new_tokens",
        F.sum("new_tokens").over(w).cast("long").alias("vocab_size"),
    )


@_q(
    "dedup_graph_triangles",
    f"""
WITH __p AS ({_lsh_verified_oracle(0.5)}),
__e AS (SELECT DISTINCT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi
        FROM __p WHERE doc_a <> doc_b),
__d AS (SELECT v, count(*) AS d FROM (
          SELECT lo AS v FROM __e UNION ALL SELECT hi FROM __e) GROUP BY v),
__w AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM __d),
__t AS (SELECT count(*) AS n_triangles
        FROM __e ab JOIN __e bc ON ab.hi = bc.lo
        JOIN __e ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
__n AS (SELECT count(*) AS n_edges FROM __e)
SELECT n_edges, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0 THEN round(3.0 * n_triangles / n_wedges, 6) END
         AS global_clustering
FROM __n CROSS JOIN __t CROSS JOIN __w
""",
    "Extension (graph diagnostics): triangle count + global clustering coefficient of "
    "the near-dup graph via edge orientation (each triangle found once as a<b<c) — high "
    "clustering is the mirror-site signature, low clustering suggests chained false "
    "positives.  Reuses the session-shared pair set.",
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_stats

    return triangle_stats(_doc_lsh_pairs(spark, sf_dir), "doc_a", "doc_b")


def _emb_outlier_oracle(n_cells: int, train_iters: int, tau: float) -> str:
    cos = _COS_SQL
    prefix, cur = _kmeans_train_ctes(n_cells, train_iters, None)
    return (
        prefix
        + f"""__oasg AS (SELECT e.vec_id, s.seed_id, {cos.format(a='e.v', b='s.sv')} AS c,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos.format(a='e.v', b='s.sv')} DESC, s.seed_id) AS r
           FROM __e e CROSS JOIN {cur} s)
SELECT vec_id, seed_id AS cluster_id, c AS centroid_cos,
       CAST(CASE WHEN c < {tau} THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM __oasg WHERE r = 1
"""
    )


@_q(
    "embedding_outlier_flags",
    _emb_outlier_oracle(8, 2, 0.2),
    "Extension (embedding-space data cleaning): vectors whose cosine to their OWN "
    "k-means centroid falls below 0.2 are flagged as outliers (mislabeled / corrupt / "
    "off-distribution samples a curation pass drops) — shares the engine-bit-identical "
    "Lloyd loop; map-only assignment, per-vector flag.",
)
def embedding_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _best_cell_scored, _drop_null_vec, _pack, _with_vec, kmeans_fit

    emb = _drop_null_vec(load_table(spark, sf_dir, "embeddings"), "embedding")
    seeds = kmeans_fit(emb, n_cells=8, train_iters=2)
    v = _with_vec(emb, "embedding", "v", F.col("vec_id"))
    best = _best_cell_scored()
    return (
        v.crossJoin(F.broadcast(_pack(seeds)))
        .select(F.col("vec_id"), best.alias("__b"))
        .select(
            "vec_id",
            F.col("__b.id").alias("cluster_id"),
            F.col("__b.c").alias("centroid_cos"),
            F.when(F.col("__b.c") < 0.2, F.lit(1)).otherwise(F.lit(0))
            .cast("int")
            .alias("is_outlier"),
        )
    )


# =====================================================================
# Round-4 session 2 — ranking, grouping-sets, native sessions, drift,
# corpus mixing
# =====================================================================


@_q(
    "customer_value_deciles",
    """
WITH __r AS (SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             FROM orders GROUP BY 1),
__n AS (SELECT o_custkey, rev,
               ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS decile FROM __r)
SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_customers,
       CAST(min(rev) AS DOUBLE) AS min_revenue,
       CAST(max(rev) AS DOUBLE) AS max_revenue,
       CAST(sum(rev) AS DOUBLE) AS decile_revenue
FROM __n GROUP BY 1
""",
    "Extension (distributed ranking): customers bucketed into revenue deciles with EXACT "
    "NTILE(10) semantics but NO single-partition window — range-partitioned shard-local "
    "row_number + prefix-sum offsets (operators/ranking.py), the same machinery as "
    "build_vocab's auto-shard.  The oracle runs the real single-partition ntile; matching "
    "it proves the distributed closed form is bit-identical, ties included.",
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_ntile

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum(_dec("o_totalprice")).alias("rev"))
    d = global_ntile(
        rev,
        [F.col("rev").desc(), F.col("o_custkey").asc()],
        10,
        bucket_col="decile",
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("rev").cast("double").alias("min_revenue"),
        F.max("rev").cast("double").alias("max_revenue"),
        F.sum("rev").cast("double").alias("decile_revenue"),
    )


@_q(
    "revenue_grouping_sets",
    f"""
WITH __pre AS (SELECT l_returnflag, l_linestatus, SUM({_REVENUE_SQL}) AS r,
                      count(*) AS n
               FROM lineitem GROUP BY 1, 2)
SELECT l_returnflag, l_linestatus, CAST(sum(r) AS DOUBLE) AS revenue,
       CAST(sum(n) AS BIGINT) AS n_lines,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM __pre GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
HAVING count(*) > 0
""",
    "Extension (§2.8 multi-level aggregation #3): explicit GROUPING SETS — detail, "
    "per-returnflag subtotal and grand total ONLY (no per-linestatus level, which is what "
    "distinguishes it from CUBE) via DataFrame.groupingSets + grouping_id; "
    "pre-aggregated to the 6 (flag, status) base groups before the 3-way Expand so the "
    "multi-level pass costs base-groups x levels, never rows x levels.",
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_revenue()).alias("r"), F.count(F.lit(1)).alias("n")
    )
    g = pre.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.sum("r").cast("double").alias("revenue"),
        F.sum("n").cast("long").alias("n_lines"),
        F.grouping_id().cast("long").alias("gid"),
    )
    return g.select("l_returnflag", "l_linestatus", "revenue", "n_lines", "gid")


@_q(
    "events_native_sessions",
    """
WITH __f AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0 THEN 1 ELSE 0 END AS is_start
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
__g AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM __f)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end,
       count(*) AS n_events
FROM __g GROUP BY user_id, sid
""",
    "Extension (W8, native session windows): F.session_window(ts, '30 minutes') — "
    "Spark's built-in MergingSessions aggregation (merge while inter-event gap <= gap, "
    "probed empirically: a gap of exactly 1800 s still merges; window end = last event "
    "+ gap).  The oracle is the equivalent gaps-and-islands SQL, so the query "
    "cross-checks the native operator against the lag/sum formulation used by "
    "sessionize_users.  Same streaming story as tumbling windows: session_window works "
    "under readStream + watermark unchanged.",
)
def events_native_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return s.select(
        "user_id",
        F.col("session_window.start").cast("long").alias("session_start"),
        F.col("session_window.end").cast("long").alias("session_end"),
        "n_events",
    )


@_q(
    "token_drift_chisq",
    f"""
WITH __t AS (
  SELECT {_BUCKET_SQL.format(k="doc_id")} < 5000 AS in_a,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents),
__c AS (SELECT token,
               CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        FROM __t GROUP BY token),
__tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM __c),
__s AS (SELECT token, n_a, n_b,
               round(((n_a / ta - n_b / tb) * (n_a / ta - n_b / tb))
                     / (n_a / ta + n_b / tb), 9) AS drift
        FROM __c CROSS JOIN __tot WHERE ta > 0 AND tb > 0)
SELECT token, n_a, n_b, drift FROM __s
ORDER BY drift DESC, token LIMIT 20
""",
    "Extension (corpus drift detection): chi-square-style per-token distribution drift "
    "between two deterministic md5 halves of the corpus — the monitor that catches a "
    "crawler or dedup change shifting the token mix.  (pA-pB)^2/(pA+pB) is "
    "division/multiply only (exactly-rounded IEEE on both engines — the repo's no-log "
    "rule for cross-engine float exactness), one token-keyed shuffle plus a broadcast "
    "1-row totals join, TakeOrderedAndProject top-20.",
)
def token_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (hash_bucket("doc_id") < 5000).alias("in_a"),
        F.explode(F.filter(F.split(F.col("text"), " "), lambda w: w != "")).alias(
            "token"
        ),
    )
    cnt = toks.groupBy("token").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("n_b"),
    )
    # drift between two halves is undefined unless BOTH halves have
    # tokens — the guard turns the degenerate corpus into an empty
    # result instead of an ANSI division-by-zero (oracle mirrors it)
    tot = cnt.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")).where(
        (F.col("ta") > 0) & (F.col("tb") > 0)
    )
    pa = F.col("n_a") / F.col("ta")
    pb = F.col("n_b") / F.col("tb")
    drift = F.round((pa - pb) * (pa - pb) / (pa + pb), 9).alias("drift")
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select("token", "n_a", "n_b", drift)
        .orderBy(F.col("drift").desc(), F.col("token").asc())
        .limit(20)
    )


@_q(
    "corpus_mix_rebalance",
    f"""
WITH __c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
__k AS (SELECT count(*) AS k, sum(n_docs) AS total FROM __c),
__r AS (SELECT lang, n_docs,
               least(10000, (total * 10000) // (k * n_docs)) AS thr_bp,
               (total + k * n_docs - 1) // (k * n_docs) AS repeats
        FROM __c CROSS JOIN __k),
__kept AS (SELECT d.lang, count(*) AS n_kept
           FROM documents d JOIN __r r ON d.lang = r.lang
           WHERE {_BUCKET_SQL.format(k="d.doc_id")} < r.thr_bp
           GROUP BY d.lang)
SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs,
       CAST(r.thr_bp AS BIGINT) AS thr_bp,
       CAST(coalesce(kk.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(r.repeats AS BIGINT) AS repeats
FROM __r r LEFT JOIN __kept kk ON kk.lang = r.lang
""",
    "Extension (training-mix rebalancing, Dolma/Pile-style): resample a skewed corpus "
    "toward UNIFORM per-language shares — overrepresented strata get a deterministic "
    "md5-bucket downsample threshold (integer basis points: thr = total*1e4 DIV "
    "(k*n_s), exact on both engines, no float boundary), underrepresented ones an "
    "upsample repeat factor (ceil via integer arithmetic).  One stratum-count shuffle + "
    "a broadcast threshold join + one filtered recount; the kept-set itself is the same "
    "filter applied to the corpus, composable into corpus_prepare_stats.",
)
def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    k = c.agg(F.count(F.lit(1)).alias("k"), F.sum("n_docs").alias("total"))
    r = c.crossJoin(F.broadcast(k)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(10000), F.expr("(total * 10000) DIV (k * n_docs)")
        ).alias("thr_bp"),
        F.expr("(total + k * n_docs - 1) DIV (k * n_docs)").alias("repeats"),
    )
    kept = (
        docs.select("lang", hash_bucket("doc_id").alias("__b"))
        .join(F.broadcast(r.select("lang", "thr_bp")), "lang")
        .filter(F.col("__b") < F.col("thr_bp"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        r.join(F.broadcast(kept), "lang", "left")
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("thr_bp").cast("long").alias("thr_bp"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.col("repeats").cast("long").alias("repeats"),
        )
    )


@_q(
    "local_supplier_revenue",
    f"""
SELECT n_name, CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
    "Extension (TPC-H Q5 proper): revenue from LOCAL supply chains — the supplier join "
    "carries the cross-dimension residual s_nationkey = c_nationkey (the element "
    "region_revenue omits), so the optimizer must thread two independent dimension "
    "paths into one fact scan; supplier/nation broadcast, one join-side shuffle on the "
    "order key, pre-aggregated map-side.",
)
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, o, c, s, n = (
        load_table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "supplier", "nation")
    )
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.sum(_revenue()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_q(
    "daily_purchase_spine",
    """
WITH
__b AS (SELECT min(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS lo,
               max(CAST(floor(epoch(ts) / 86400) AS BIGINT)) AS hi FROM events),
__d AS (SELECT unnest(generate_series(lo, hi)) AS day FROM __b WHERE lo IS NOT NULL),
__p AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, count(*) AS n
        FROM events WHERE event_type = 'purchase' AND value > 300 GROUP BY 1)
SELECT d.day AS day, CAST(coalesce(p.n, 0) AS BIGINT) AS n_big_purchases,
       CAST(CASE WHEN p.n IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
FROM __d d LEFT JOIN __p p ON p.day = d.day
""",
    "Extension (recursive CTE surface, Spark 4): a calendar SPINE over the observed "
    "[min, max] day bounds, left-joined to big-purchase day counts so silent "
    "zero-activity days surface as explicit is_gap rows — the monitoring query a "
    "dense-groupBy can never produce because absent days produce no groups.  The "
    "spine comes from WITH RECURSIVE (UNION ALL, one level per day) while the span "
    "fits Spark's recursion budget, and falls back to the distributed spark.range "
    "for degenerate multi-century spans (extreme-timestamp corrupt rows would "
    "otherwise exceed the recursion-level limit — and a 213k-level UnionLoop is "
    "the wrong plan anyway).  Both paths emit identical rows.",
)
def daily_purchase_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__ev_spine_src")
    # Eager 1-row bounds collect: inlining lo/hi as literals keeps the
    # recursive member free of ANY base-table reference (Spark has no
    # CTE materialization, so `... FROM __d JOIN __b` would rescan the
    # events aggregate on every one of the ~30 iterations — measured
    # 13 s -> ~2 s at sf0.01).
    lo, hi = ev.agg(
        F.min(floor_div(F.col("ts").cast("long"), 86400)),
        F.max(floor_div(F.col("ts").cast("long"), 86400)),
    ).first()
    if lo is None or hi is None:  # empty / all-null-ts events: no spine
        return spark.createDataFrame(
            [], "day long, n_big_purchases long, is_gap int"
        )
    # FLOOR (not DIV, which truncates toward zero) so pre-1970 corrupt
    # timestamps bucket to the same day index as the oracle's `//`
    purchases = """
__p AS (SELECT CAST(FLOOR(CAST(ts AS LONG) / 86400) AS LONG) AS day, count(*) AS n
        FROM __ev_spine_src WHERE event_type = 'purchase' AND value > 300 GROUP BY 1)"""
    tail = """
SELECT d.day AS day, CAST(coalesce(p.n, 0) AS BIGINT) AS n_big_purchases,
       CAST(CASE WHEN p.n IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
FROM __d d LEFT JOIN __p p ON p.day = d.day"""
    if hi - lo < 90:  # the recursive-CTE surface (one level per day)
        return spark.sql(
            f"""
WITH RECURSIVE
__d(day) AS (SELECT CAST({lo} AS LONG) AS day
             UNION ALL SELECT day + 1 FROM __d WHERE day < {hi}),{purchases}{tail}"""
        )
    spark.range(lo, hi + 1).selectExpr("id AS day").createOrReplaceTempView(
        "__spine_days"
    )
    return spark.sql(f"WITH __d AS (SELECT day FROM __spine_days),{purchases}{tail}")


@_q(
    "props_variant_stats",
    """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
         AS BIGINT) AS n_distinct_k
FROM events GROUP BY event_type
""",
    "Extension (§2.9, Spark 4 VARIANT type): events.props parsed ONCE into the binary "
    "Variant encoding (parse_json), then typed access via variant_get — the "
    "semi-structured scale path that replaces per-field JSON re-parsing (regexp / "
    "get_json_object re-scan the string per extraction; Variant decodes once and "
    "field-gets are O(1) binary probes).  try_parse_json feeds the validity counter so "
    "malformed rows count instead of failing the query.  The oracle uses DuckDB's JSON "
    "functions for the same typed reads.",
)
def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.try_parse_json(F.col("props")).alias("v"),
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("v").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_valid"),
        F.sum(k).cast("long").alias("sum_k"),
        F.countDistinct(k).cast("long").alias("n_distinct_k"),
    )


@_q(
    "customer_top_orders_lateral",
    """
WITH __r AS (
  SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders)
SELECT c_custkey, o_orderkey, price
FROM customer JOIN __r ON o_custkey = c_custkey
WHERE rnk <= 2
""",
    "Extension (correlated LATERAL subquery surface): each customer's top-2 orders "
    "written as `FROM customer, LATERAL (... WHERE o_custkey = c_custkey ORDER BY ... "
    "LIMIT 2)` — Catalyst DECORRELATES the per-row subquery into a window + key "
    "equi-join, so the nested loop a naive reading implies never exists "
    "(plan-tested: no BroadcastNestedLoopJoin/CartesianProduct).  Honest plan caveat, "
    "also pinned by test: this decorrelation does NOT get the WindowGroupLimit "
    "top-k-per-group fast path (it keeps one extra global-ordering exchange); the "
    "direct window formulation — row_number over (partition by key) + rank filter, as "
    "used by topn_per_window — compiles to partial+final WindowGroupLimit around a "
    "single exchange and is what a hot path should use.  The surface is supported and "
    "verified; the formulation choice is a measured plan tradeoff.",
)
def customer_top_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__lat_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("__lat_cust")
    return spark.sql(
        """
SELECT c_custkey, t.o_orderkey, t.price FROM __lat_cust,
LATERAL (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
         FROM __lat_orders o WHERE o.o_custkey = __lat_cust.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
"""
    )


@_q(
    "daily_revenue_ewma",
    """
WITH __d AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1),
__p AS (
  SELECT d.day, d.cents,
         CAST(sum(j.cents * (CAST(1 AS BIGINT) << CAST(13 - (d.day - j.day) AS INT)))
           AS BIGINT) AS scaled,
         count(*) AS n_days
  FROM __d d JOIN __d j ON d.day - j.day BETWEEN 0 AND 13
  GROUP BY d.day, d.cents)
SELECT day, CAST(cents AS DOUBLE) / 100 AS revenue,
       CAST(scaled AS DOUBLE) / 819200 AS ewma_num, n_days
FROM __p
""",
    "Extension (time-series smoothing, float-determinism pattern): 14-day "
    "exponentially-weighted daily revenue with alpha = 1/2 — weights 2^-k are EXACT "
    "binary, so the whole smoothing runs in INTEGER cents scaled by 1 << (13-k); "
    "engines sum bit-identical BIGINTs in any order and the single final "
    "double-division is exactly rounded, sidestepping float-summation order entirely "
    "(the repo's no-log rule applied to decay weights).  Scale shape: the fact scan "
    "collapses to a day-count-sized relation first; the 14-wide band join is "
    "dimension-sized, never touching the fact again.",
)
def daily_revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        floor_div(F.col("o_orderdate").cast("long"), F.lit(86400)).alias("day")
    ).agg(
        (F.sum(_dec("o_totalprice")) * 100).cast("long").alias("cents")
    )
    jj = d.select(F.col("day").alias("jday"), F.col("cents").alias("jcents"))
    gap = F.col("day") - F.col("jday")
    pairs = d.join(jj, (gap >= 0) & (gap <= 13))
    weight = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(13 - (day - jday) AS INT))")
    return (
        pairs.groupBy("day", "cents")
        .agg(
            F.sum(F.col("jcents") * weight).cast("long").alias("scaled"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select(
            "day",
            (F.col("cents").cast("double") / 100).alias("revenue"),
            (F.col("scaled").cast("double") / 819200).alias("ewma_num"),
            "n_days",
        )
    )


@_q(
    "conversion_latency_percentiles",
    """
WITH __b AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts FROM events),
__v AS (SELECT user_id, day, min(ts) AS t0 FROM __b
        WHERE event_type = 'view' GROUP BY 1, 2),
__p AS (SELECT b.user_id, b.day, min(epoch_us(b.ts) - epoch_us(v.t0)) AS delay_us
        FROM __b b JOIN __v v USING (user_id, day)
        WHERE b.event_type = 'purchase' AND b.ts > v.t0 GROUP BY 1, 2)
SELECT day, count(*) AS n_conversions,
       round(quantile_cont(CAST(delay_us AS DOUBLE) / 1000000, 0.5), 6) AS p50_s,
       round(quantile_cont(CAST(delay_us AS DOUBLE) / 1000000, 0.9), 6) AS p90_s
FROM __p GROUP BY day
""",
    "Extension (product analytics): per-day view→purchase conversion LATENCY "
    "percentiles — first view anchors each (user, day), the earliest later purchase "
    "converts it, delays measured in exact integer microseconds (unix_micros / "
    "epoch_us, the repo's fractional-second parity rule) then percentile-interpolated "
    "over exactly-halved doubles.  Same co-partitioned (user, day) aggregation chain "
    "as funnel_daily_conversion — the exchange is reused across the anchor and "
    "conversion stages.",
)
def conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "event_type",
        "ts",
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "day")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, ["user_id", "day"])
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id", "day")
        .agg(F.min(F.unix_micros("ts") - F.unix_micros("t0")).alias("delay_us"))
    )
    delay_s = F.col("delay_us").cast("double") / 1000000
    pct = F.percentile(delay_s, F.array(F.lit(0.5), F.lit(0.9)))
    return p.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.element_at(pct, 1), 6).alias("p50_s"),
        F.round(F.element_at(pct, 2), 6).alias("p90_s"),
    )


@_q(
    "customer_rfm_segments",
    """
WITH __c AS (
  SELECT o_custkey,
         max(CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)) AS recency_day,
         count(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY 1),
__n AS (
  SELECT o_custkey, monetary,
         ntile(4) OVER (ORDER BY recency_day DESC, o_custkey) AS r,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
  FROM __c)
SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f, CAST(m AS BIGINT) AS m,
       count(*) AS n_customers, CAST(sum(monetary) AS DOUBLE) AS segment_revenue
FROM __n GROUP BY 1, 2, 3
""",
    "Extension (customer segmentation): RFM quartile coding — recency / frequency / "
    "monetary each quartiled with EXACT NTILE(4) semantics via three chained "
    "operators/ranking.global_ntile passes (each a range-shuffle + shard-local rank + "
    "offsets, NO single-partition window even at hundreds of millions of customers), "
    "then the ≤64 (r, f, m) segment cells aggregated.  The oracle runs the real "
    "single-partition ntiles — matching them proves all three distributed orderings, "
    "ties included.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from ..operators.ranking import global_ntile

    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.max(floor_div(F.col("o_orderdate").cast("long"), F.lit(86400))).alias(
            "recency_day"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_dec("o_totalprice")).alias("monetary"),
    )
    # r11: the three quartile codings were CHAINED (each global_ntile
    # pass re-ranked the previous pass's output), serializing three
    # eager range-shuffle + offsets-collect rounds and nesting their
    # lineage.  Each bucket depends only on c's ordering by its OWN
    # dimension, so the passes are independent: materialize the
    # customer aggregate once (localCheckpoint — customer-level rows),
    # compute the three (custkey, bucket) mappings over 2-column
    # projections, and overlap their eager phases with a small driver
    # thread pool (guide §2.6 — jobs back-fill each other's tails).
    # Bucket values are unchanged: same input ordering per dimension,
    # same NTILE arithmetic; the joins below are keyed on the customer.
    c = c.localCheckpoint(eager=True)

    def bucketize(dim: str, colname: str) -> DataFrame:
        return global_ntile(
            c.select("o_custkey", dim),
            [F.col(dim).desc(), F.col("o_custkey").asc()],
            4,
            bucket_col=colname,
        ).select("o_custkey", colname)

    with ThreadPoolExecutor(max_workers=3) as pool:
        br, bf, bm = pool.map(
            lambda args: bucketize(*args),
            (("recency_day", "r"), ("frequency", "f"), ("monetary", "m")),
        )
    return (
        c.select("o_custkey", "monetary")
        .join(br, "o_custkey")
        .join(bf, "o_custkey")
        .join(bm, "o_custkey")
        .groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").cast("double").alias("segment_revenue"),
        )
    )


@_q(
    "top_session_paths",
    """
WITH __f AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0 THEN 1 ELSE 0 END AS is_start
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
__s AS (
  SELECT user_id, ts, event_id, event_type,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM __f),
__g AS (
  SELECT user_id, event_type, sid,
         row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
  FROM __s),
__p AS (
  SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM __g WHERE rn <= 3 GROUP BY user_id, sid)
SELECT path, count(*) AS n_sessions
FROM __p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20
""",
    "Extension (behavioral path analysis): the 20 most common session-opening "
    "event-type paths (first 3 events of each 30-min-gap session, joined with '>') — "
    "the Sankey-source query.  All windows are user-partitioned (scale-safe), the "
    "per-session path is an array_sort over ≤3 collected structs (rn is unique within "
    "a session, so ordering is exact), and the final top-20 is "
    "TakeOrderedAndProject over path-count cardinality.",
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    is_start = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    marked = ev.select(
        "user_id", "ts", "event_id", "event_type", is_start.alias("is_start")
    )
    sid = F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0))
    with_sid = marked.withColumn("sid", sid)
    rn = F.row_number().over(
        Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    )
    first3 = with_sid.withColumn("rn", rn).filter(F.col("rn") <= 3)
    paths = first3.groupBy("user_id", "sid").agg(
        # NULL event types are skipped by array_join AND string_agg alike;
        # nullif keeps the all-NULL session at a NULL path (array_join
        # alone would collapse it to '', which string_agg never emits)
        F.nullif(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda x: x.event_type,
                ),
                ">",
            ),
            F.lit(""),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


@_q(
    "referential_integrity_report",
    """
WITH __lo AS (SELECT count(*) AS n_child,
                     sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_orphans
              FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
__oc AS (SELECT count(*) AS n_child,
                sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS n_orphans
         FROM orders ord LEFT JOIN customer c ON ord.o_custkey = c.c_custkey),
__cn AS (SELECT count(*) AS n_child,
                sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS n_orphans
         FROM customer cu LEFT JOIN nation n ON cu.c_nationkey = n.n_nationkey)
SELECT 'lineitem->orders' AS edge, n_child, CAST(n_orphans AS BIGINT) AS n_orphans FROM __lo
UNION ALL
SELECT 'orders->customer', n_child, CAST(n_orphans AS BIGINT) FROM __oc
UNION ALL
SELECT 'customer->nation', n_child, CAST(n_orphans AS BIGINT) FROM __cn
""",
    "Extension (warehouse health / expectation checks): orphan counts along every "
    "foreign-key edge of the star schema — each edge one left join reduced to a 1-row "
    "aggregate (orders/customer parent sides shuffle-joined at fact scale; nation "
    "broadcast), unioned into the report a data-contract gate consumes.  The oracle "
    "re-states each edge independently.",
)
def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    def edge(child, parent, ck, pk, name, broadcast_parent=False):
        p = parent.select(pk)
        if broadcast_parent:
            p = F.broadcast(p)
        j = child.select(ck).join(p, F.col(ck) == F.col(pk), "left")
        return j.agg(
            F.lit(name).alias("edge"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        ).select("edge", "n_child", "n_orphans")

    return (
        edge(li, o, "l_orderkey", "o_orderkey", "lineitem->orders")
        .unionAll(edge(o, c, "o_custkey", "c_custkey", "orders->customer"))
        .unionAll(edge(c, n, "c_nationkey", "n_nationkey", "customer->nation", True))
    )


@_q(
    "hourly_activity_bitmask",
    """
WITH __m AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         bit_or(CAST(1 AS BIGINT) <<
                CAST(((CAST(floor(epoch(ts)) AS BIGINT) % 86400 + 86400) % 86400) // 3600 AS INT))
           AS mask
  FROM events GROUP BY 1, 2)
SELECT day, count(*) AS n_user_days,
       CAST(sum(CASE WHEN bit_count(mask) >= 12 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_heavy_users,
       CAST(sum(CASE WHEN (mask & 4080) <> 0 AND (mask & 16711680) <> 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_morning_and_evening
FROM __m GROUP BY day
""",
    "Extension (bitmask aggregation): per-(user, day) hourly activity packed into a "
    "24-bit mask with bit_or(1 << hour) — the bitmap trick that turns 24 boolean "
    "columns into one BIGINT aggregate; popcount >= 12 flags heavy users, and "
    "mask & 0xFF0 (hours 4-11) vs mask & 0xFF0000 (hours 16-23) detects "
    "morning+evening users in pure integer ops, engine-exact.  One (user, day) "
    "shuffle then a day-sized rollup.",
)
def hourly_activity_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    m = ev.groupBy(
        "user_id", floor_div(sec, 86400).alias("day")
    ).agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(CAST(ts AS LONG), 86400) DIV 3600 AS INT))")).alias("mask"))
    return m.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_user_days"),
        F.sum(F.when(F.bit_count("mask") >= 12, 1).otherwise(0))
        .cast("long")
        .alias("n_heavy_users"),
        F.sum(
            F.when(
                ((F.col("mask").bitwiseAND(F.lit(4080))) != 0)
                & ((F.col("mask").bitwiseAND(F.lit(16711680))) != 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_morning_and_evening"),
    )


@_q(
    "dedup_method_agreement",
    f"""
WITH __lsh AS ({_lsh_verified_oracle(0.5)}),
__sh AS ({_simhash_pairs_oracle(32)}),
__l AS (SELECT DISTINCT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi
        FROM __lsh),
__s AS (SELECT DISTINCT least(doc_a, doc_b) AS lo, greatest(doc_a, doc_b) AS hi
        FROM __sh),
__b AS (SELECT count(*) AS n_both FROM __l JOIN __s USING (lo, hi)),
__nl AS (SELECT count(*) AS n_lsh FROM __l),
__ns AS (SELECT count(*) AS n_simhash FROM __s)
SELECT n_lsh, n_simhash, n_both,
       CASE WHEN n_lsh + n_simhash - n_both > 0
            THEN round(CAST(n_both AS DOUBLE) / (n_lsh + n_simhash - n_both), 6) END
         AS pair_jaccard
FROM __nl CROSS JOIN __ns CROSS JOIN __b
""",
    "Extension (dedup meta-evaluation): agreement between the two production near-dup "
    "detectors — MinHash-LSH verified pairs (Jaccard >= 0.5) vs 32-bit SimHash "
    "Hamming <= 3 — as pair-set counts and Jaccard overlap, the IN-ENGINE evaluation "
    "that decides which detector (or both) a corpus run should trust.  Reuses the "
    "session-shared LSH pair set; both pair relations are signature-sized, the "
    "agreement join is pair-keyed.",
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_hamming_pairs

    lsh = _doc_lsh_pairs(spark, sf_dir).select(
        F.least("doc_a", "doc_b").alias("lo"), F.greatest("doc_a", "doc_b").alias("hi")
    ).distinct()
    sh = simhash_hamming_pairs(
        load_table(spark, sf_dir, "documents"), bits=32
    ).select(
        F.least("doc_a", "doc_b").alias("lo"), F.greatest("doc_a", "doc_b").alias("hi")
    ).distinct()
    nl = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    ns = sh.agg(F.count(F.lit(1)).alias("n_simhash"))
    nb = lsh.join(sh, ["lo", "hi"]).agg(F.count(F.lit(1)).alias("n_both"))
    denom = F.col("n_lsh") + F.col("n_simhash") - F.col("n_both")
    return (
        nl.crossJoin(ns)
        .crossJoin(nb)
        .select(
            "n_lsh",
            "n_simhash",
            "n_both",
            F.when(
                denom > 0,
                F.round(F.col("n_both").cast("double") / denom, 6),
            ).alias("pair_jaccard"),
        )
    )


@_q(
    "doc_fluency_scores",
    """
WITH __w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
__bg AS (SELECT doc_id,
                unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))
                  AS bg
         FROM __w),
__top AS (SELECT bg FROM (SELECT bg, count(*) AS cnt FROM __bg GROUP BY bg)
          ORDER BY cnt DESC, bg LIMIT 1000),
__sc AS (SELECT b.doc_id, count(*) AS n_bigrams,
                CAST(sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_common
         FROM __bg b LEFT JOIN __top t ON b.bg = t.bg
         GROUP BY b.doc_id)
SELECT doc_id, n_bigrams, n_common,
       round(CAST(n_common AS DOUBLE) / n_bigrams, 6) AS fluency
FROM __sc
""",
    "Extension (model-free fluency proxy, KenLM-shaped without the LM): each doc "
    "scored by the fraction of its bigram OCCURRENCES that fall in the corpus's 1,000 "
    "most common bigrams — natural prose tracks the corpus head, gibberish and "
    "boilerplate-stripped fragments don't.  One corpus bigram count shuffle, the head "
    "list via TakeOrderedAndProject then BROADCAST into a left join marker (the corpus "
    "stream is never shuffled against it), one doc-keyed aggregation.  Log-free ratio "
    "per the cross-engine float rule.",
)
def doc_fluency_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _shingle_expr, _split_col

    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select("doc_id", _split_col("text").alias("__ws")).select(
        "doc_id", F.explode(F.expr(_shingle_expr("__ws", 2, pre_split=True))).alias("bg")
    )
    top = (
        bg.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bg").asc())
        .limit(1000)
        .select("bg", F.lit(1).alias("__c"))
    )
    j = bg.join(F.broadcast(top), "bg", "left")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("__c"), F.lit(0))).cast("long").alias("n_common"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_common",
            F.round(F.col("n_common").cast("double") / F.col("n_bigrams"), 6).alias(
                "fluency"
            ),
        )
    )


@_q(
    "value_equidepth_histogram",
    """
WITH __n AS (
  SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS bucket
  FROM events WHERE value IS NOT NULL AND isfinite(value))
SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
       round(min(value), 6) AS lo, round(max(value), 6) AS hi
FROM __n GROUP BY bucket
""",
    "Extension (equi-depth histogram — the optimizer-statistics shape): events.value "
    "cut into 10 EXACTLY equal-population buckets via the distributed global NTILE "
    "(range shuffle + shard rank + offsets, ranking.py) — this is the operator's "
    "fact-table-scale exercise: the ranked relation is the raw event stream, not a "
    "pre-aggregate, and the oracle's single-partition ntile must still match "
    "bit-identically (ties broken by event_id).  Bucket boundaries are the "
    "equi-depth statistics a cost model or a drift monitor consumes.",
)
def value_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_ntile

    # NULL values cannot be placed in a numeric equi-depth histogram —
    # excluded on both sides (also dodges the Spark-NULLS-FIRST vs
    # SQL-NULLS-LAST ordering divergence inside the rank)
    ev = (
        load_table(spark, sf_dir, "events")
        .select("value", "event_id")
        .where(F.col("value").isNotNull() & _finite("value"))
    )
    b = global_ntile(
        ev,
        [F.col("value").asc(), F.col("event_id").asc()],
        10,
        bucket_col="bucket",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


@_q(
    "cohort_ltv_curves",
    """
WITH __o AS (SELECT * FROM orders WHERE o_orderdate IS NOT NULL),
__f AS (
  SELECT o_custkey,
         min(CAST(floor(epoch(o_orderdate) / 2592000) AS BIGINT)) AS cohort
  FROM __o GROUP BY 1),
__r AS (
  SELECT f.cohort,
         CAST(floor(epoch(o.o_orderdate) / 2592000) AS BIGINT) - f.cohort AS offset_m,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
  FROM __o o JOIN __f f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2)
SELECT cohort, offset_m, CAST(rev AS DOUBLE) AS revenue,
       CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY offset_m
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS cumulative_ltv
FROM __r
""",
    "Extension (cohort lifetime value): customers grouped by first-order epoch-month "
    "(30-day buckets — calendar-free), revenue laid out as a (cohort, month-offset) "
    "triangle with the cumulative LTV curve per cohort.  The co-partitioned o_custkey "
    "first-order join reuses the aggregation exchange; the cumulative window runs over "
    "the months^2/2-bounded triangle, never the fact table.  Decimal sums cast to "
    "double only at the edge.",
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # undated orders can be placed in no cohort month
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    month = floor_div(F.col("o_orderdate").cast("long"), F.lit(2592000))
    f = o.groupBy("o_custkey").agg(F.min(month).alias("cohort"))
    r = (
        o.join(f, "o_custkey")
        .groupBy("cohort", (month - F.col("cohort")).alias("offset_m"))
        .agg(F.sum(_dec("o_totalprice")).alias("rev"))
    )
    w = Window.partitionBy("cohort").orderBy("offset_m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return r.select(
        "cohort",
        "offset_m",
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(w).cast("double").alias("cumulative_ltv"),
    )


#: Shared DuckDB CTE body for the embedding covariance upper triangle —
#: consumed by embedding_covariance_matrix and the power-iteration query.
_EMB_COV_CTES = """__e AS (SELECT vec_id, embedding AS v FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__p AS (SELECT i.i AS i, j.j AS j,
               (v[i.i + 1])::DOUBLE AS xi, (v[j.j + 1])::DOUBLE AS xj
        FROM __e, range(0, 64) i(i), range(0, 64) j(j)
        WHERE j.j >= i.i),
__s AS (SELECT i, j, count(*) AS n,
               sum(CAST(xi * xj AS DECIMAL(28,12))) AS sxy,
               sum(CAST(xi AS DECIMAL(28,12))) AS sx,
               sum(CAST(xj AS DECIMAL(28,12))) AS sy
        FROM __p GROUP BY i, j),
__cov AS (SELECT i, j, n,
       round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n, 6)
         + 0.0 AS cov
       FROM __s)"""


def _emb_cov_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance cells (i, j, n, cov) — the Spark twin
    of ``_EMB_COV_CTES``; see embedding_covariance_matrix for the plan
    notes.  PERSISTED + MEMOIZED per (session, sf_dir) like the
    canonical map: the covariance / correlation / principal-component
    family shares one fact-scale pass."""
    return _cached_canon(
        spark,
        sf_dir,
        "emb_cov_cells",
        lambda: _emb_cov_build(spark, sf_dir).localCheckpoint(eager=False),
    )


def _emb_cov_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _drop_null_vec

    emb = _drop_null_vec(load_table(spark, sf_dir, "embeddings"), "embedding")
    v = emb.select(F.col("embedding").cast("array<double>").alias("v"))
    # ONE Generate per vector: the 2,080 (i, j, xi, xj) upper-triangle
    # structs are built as a single flattened array expression, then
    # exploded once — a nested posexplode(v) inside posexplode(v)
    # re-copies the 64-element array into every one of the 64 outer
    # rows (the Generate-projection re-evaluation family; measured 9 s
    # -> ~2 s for the covariance pass at sf0.01)
    pij = v.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda i: F.transform(
                        F.sequence(i, F.lit(63)),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (
                                F.element_at(F.col("v"), i + 1)
                                * F.element_at(F.col("v"), j + 1)
                            ).alias("prod"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.i", "p.j", "p.prod")
    dec = "decimal(28,12)"
    srel = pij.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("prod").cast(dec)).alias("sxy"),
    )
    # per-dimension sums from ONE cheap single explode (64 rows/vector)
    # instead of duplicating xi/xj into all 2,080 pair rows
    dim_sums = (
        v.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(F.sum(F.col("x").cast(dec)).alias("sd"))
    )
    srel = srel.join(
        F.broadcast(dim_sums.select(F.col("d").alias("i"), F.col("sd").alias("sx"))),
        "i",
    ).join(
        F.broadcast(dim_sums.select(F.col("d").alias("j"), F.col("sd").alias("sy"))),
        "j",
    )
    cov = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
    ) / F.col("n")
    return srel.select(
        "i",
        "j",
        "n",
        # + 0.0 canonicalizes IEEE negative zero (round can yield -0.0
        # on one engine and +0.0 on the other; -0.0 + 0.0 == +0.0)
        (F.round(cov, 6) + F.lit(0.0)).alias("cov"),
    )


@_q(
    "embedding_covariance_matrix",
    f"""
WITH {_EMB_COV_CTES}
SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n, cov FROM __cov
""",
    "Extension (distributed feature statistics): the full 64x64 embedding covariance "
    "matrix (upper triangle, 2,080 cells) — the PCA / whitening / drift-detection "
    "primitive.  Pair fan-out is dim^2-bounded per vector with map-side partial "
    "aggregation, so shuffle bytes ∝ 2,080 cells x partitions, never rows; sums go "
    "through DECIMAL(28,12) (the kmeans decimal-stability pattern) so both engines "
    "accumulate bit-identically in any order, and the covariance assembly is a final "
    "exactly-rounded double expression.",
)
def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _emb_cov_df(spark, sf_dir)
    return c.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "n",
        "cov",
    )


def _power_iteration_oracle(iters: int = 3) -> str:
    rounds = ""
    cur = "__v0"
    for r in range(iters):
        rounds += f"""__u{r} AS (SELECT m.i,
            CAST(sum(CAST(m.cov * v.val AS DECIMAL(28,12))) AS DOUBLE) AS u
            FROM __m m JOIN {cur} v ON m.j = v.i GROUP BY m.i),
__m{r} AS (SELECT max(abs(u)) AS mx FROM __u{r}),
__v{r + 1} AS (SELECT u.i, round(u.u / m.mx, 6) + 0.0 AS val
             FROM __u{r} u CROSS JOIN __m{r} m),
"""
        cur = f"__v{r + 1}"
    return f"""
WITH {_EMB_COV_CTES},
__m AS (SELECT i, j, cov FROM __cov
        UNION ALL SELECT j, i, cov FROM __cov WHERE i <> j),
__v0 AS (SELECT DISTINCT i, 1.0 AS val FROM __cov),
{rounds}__fin AS (SELECT i, val FROM {cur})
SELECT CAST(f.i AS BIGINT) AS dim, f.val AS loading,
       round(m.mx, 6) AS eigenvalue_est
FROM __fin f CROSS JOIN __m{iters - 1} m
"""


@_q(
    "embedding_principal_component",
    _power_iteration_oracle(3),
    "Extension (iterative algorithm #4 — PCA direction): the dominant eigenvector of "
    "the 64x64 embedding covariance matrix by 3 unrolled power-iteration rounds over "
    "the (i, j, cov) cell relation — matvec as a join+sum (DECIMAL-accumulated, "
    "order-independent), max-abs normalization (division is exactly rounded, no sqrt), "
    "negative zero canonicalized per round.  The matrix is dim^2-sized, so after the "
    "one fact-scale covariance pass every round is dimension-scale work — the same "
    "collapse-then-iterate shape as kmeans and pagerank; the oracle replays every "
    "round.  The final eigenvalue estimate is the last normalization constant "
    "(Rayleigh-style), and the loading vector is the whitening/drift direction a "
    "curation pipeline projects onto.",
)
def embedding_principal_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EAGER BY CONTRACT: the fact-scale covariance pass runs once
    # (memoized, distributed); the matrix it leaves behind is
    # dimension-bounded (2,080 cells regardless of corpus size), so the
    # three matvec rounds run DRIVER-SIDE over the collected cells —
    # the PQ-codebook pattern (codebook-sized materialization, plain
    # loops).  The previous unrolled 3-round Spark plan moved 64-row
    # frames through ~12 shuffle/broadcast stages: 6.3 s of pure stage
    # overhead per run at sf0.1, vs ~0 here — stage fan-out is worth
    # paying for data, not for a 64x64 matrix.  Arithmetic replicates
    # the engines bit-for-bit: each product in IEEE double, HALF_UP
    # DECIMAL(28,12) quantization, exact (order-independent) decimal
    # sums, HALF_UP round(x, 6), negative zero canonicalized.
    import math
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    cells = _emb_cov_df(spark, sf_dir).select("i", "j", "cov").collect()
    if not cells:  # empty corpus -> empty matrix -> no component
        # (the oracle's recursive rounds over an empty __cov are empty
        # too; the lazy Spark form returned the same zero rows)
        return spark.createDataFrame(
            [], "dim long, loading double, eigenvalue_est double"
        )
    m: dict[int, list[tuple[int, float]]] = {}
    for r in cells:
        i, j, cov = int(r["i"]), int(r["j"]), float(r["cov"])
        m.setdefault(i, []).append((j, cov))
        if i != j:
            m.setdefault(j, []).append((i, cov))
    dims = sorted(m)
    q12, q6 = Decimal("1e-12"), Decimal("1e-6")

    def round6(x: float) -> float:
        if not math.isfinite(x):
            return x
        return float(Decimal(x).quantize(q6, rounding=ROUND_HALF_UP)) + 0.0

    v = {i: 1.0 for i in dims}
    mx = float("nan")
    with localcontext() as ctx:
        ctx.prec = 50  # exact 28-digit decimal sums need headroom
        for _ in range(3):
            u = {}
            for i in dims:
                acc = Decimal(0)
                for j, cov in m[i]:
                    acc += Decimal(cov * v[j]).quantize(q12, rounding=ROUND_HALF_UP)
                u[i] = float(acc)
            mx = max(abs(x) for x in u.values())
            if mx == 0:
                # Zero-variance corpus (constant / single-row embeddings):
                # every matvec lands on 0, and round(0/0, 6) is NULL in
                # BOTH engines (Spark non-ANSI and DuckDB return NULL on
                # /0, not IEEE NaN) — each later round then propagates
                # NULL through sum/max/divide, so the whole result is
                # NULL loadings + NULL eigenvalue.  Short-circuit to
                # exactly that instead of raising ZeroDivisionError
                # (round-7 advice: the registry returns, never raises,
                # on degenerate tables).
                return spark.createDataFrame(
                    [(i, None, None) for i in dims],
                    "dim long, loading double, eigenvalue_est double",
                )
            v = {i: round6(x / mx) for i, x in u.items()}
    return spark.createDataFrame(
        [(i, v[i], round6(mx)) for i in dims],
        "dim long, loading double, eigenvalue_est double",
    )


@_q(
    "embedding_drift_by_dim",
    f"""
WITH __e AS (SELECT {_BUCKET_SQL.format(k="vec_id")} < 5000 AS in_a,
                    embedding AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x) OR abs(x) > 1000000.0)) = 0),
__x AS (SELECT in_a, d.d AS dim, (v[d.d + 1])::DOUBLE AS x
        FROM __e, range(0, 64) d(d)),
__s AS (SELECT dim,
               CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
               sum(CASE WHEN in_a THEN CAST(x AS DECIMAL(28,12)) ELSE 0 END) AS sa,
               sum(CASE WHEN in_a THEN 0 ELSE CAST(x AS DECIMAL(28,12)) END) AS sb,
               sum(CASE WHEN in_a THEN CAST(x * x AS DECIMAL(28,12)) ELSE 0 END) AS qa,
               sum(CASE WHEN in_a THEN 0 ELSE CAST(x * x AS DECIMAL(28,12)) END) AS qb
        FROM __x GROUP BY dim),
__z AS (SELECT dim, na, nb,
               CAST(sa AS DOUBLE) / na AS ma, CAST(sb AS DOUBLE) / nb AS mb,
               (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na) / na
                 AS va,
               (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb) / nb
                 AS vb
        FROM __s)
SELECT CAST(dim AS BIGINT) AS dim, na, nb,
       round(ma - mb, 6) + 0.0 AS mean_diff,
       round((ma - mb) / sqrt(va / na + vb / nb), 6) + 0.0 AS z_score
FROM __z WHERE na > 0 AND nb > 0
""",
    "Extension (embedding-space drift detection — the vector complement of "
    "token_drift_chisq): per-dimension Welch z-scores of the mean gap between two "
    "deterministic md5 halves of the embedding table — the monitor that catches an "
    "encoder change or a scraped-distribution shift.  Two-moment DECIMAL(28,12) "
    "accumulation (order-independent), then a closed-form double expression; sqrt is "
    "exactly rounded in IEEE so the z-score stays engine-identical, and negative zero "
    "is canonicalized.  One dim-keyed shuffle over a 64x fan-out, 64 rows out.",
)
def embedding_drift_by_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_bucket
    from ..operators.similarity import _drop_null_vec

    emb = _drop_null_vec(load_table(spark, sf_dir, "embeddings"), "embedding")
    e = emb.select(
        (hash_bucket("vec_id") < 5000).alias("in_a"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    x = e.select("in_a", F.posexplode("v").alias("dim", "x"))
    dec = "decimal(28,12)"
    zero = F.lit(0).cast(dec)
    srel = x.groupBy("dim").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("nb"),
        F.sum(F.when(F.col("in_a"), F.col("x").cast(dec)).otherwise(zero)).alias("sa"),
        F.sum(F.when(F.col("in_a"), zero).otherwise(F.col("x").cast(dec))).alias("sb"),
        F.sum(
            F.when(F.col("in_a"), (F.col("x") * F.col("x")).cast(dec)).otherwise(zero)
        ).alias("qa"),
        F.sum(
            F.when(F.col("in_a"), zero).otherwise((F.col("x") * F.col("x")).cast(dec))
        ).alias("qb"),
    )
    ma = F.col("sa").cast("double") / F.col("na")
    mb = F.col("sb").cast("double") / F.col("nb")
    va = (
        F.col("qa").cast("double")
        - F.col("sa").cast("double") * F.col("sa").cast("double") / F.col("na")
    ) / F.col("na")
    vb = (
        F.col("qb").cast("double")
        - F.col("sb").cast("double") * F.col("sb").cast("double") / F.col("nb")
    ) / F.col("nb")
    # a drift z-score against an EMPTY half is undefined — drop such
    # dims on both engines (degenerate hash-half regime, tiny tier)
    return srel.where((F.col("na") > 0) & (F.col("nb") > 0)).select(
        F.col("dim").cast("long").alias("dim"),
        "na",
        "nb",
        (F.round(ma - mb, 6) + F.lit(0.0)).alias("mean_diff"),
        (F.round((ma - mb) / F.sqrt(va / F.col("na") + vb / F.col("nb")), 6) + F.lit(0.0)).alias(
            "z_score"
        ),
    )


@_q(
    "fluency_quality_gains",
    """
WITH __w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
__bg AS (SELECT doc_id,
                unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))
                  AS bg
         FROM __w),
__top AS (SELECT bg FROM (SELECT bg, count(*) AS cnt FROM __bg GROUP BY bg)
          ORDER BY cnt DESC, bg LIMIT 1000),
__fl AS (SELECT b.doc_id,
                CAST(sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) AS fluency
         FROM __bg b LEFT JOIN __top t ON b.bg = t.bg GROUP BY b.doc_id),
__q AS (SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               length(text) AS n_chars,
               len(list_filter(string_split(text, ' '),
                   w -> w IN ('the', 'a', 'an', 'of', 'to', 'and', 'in', 'is',
                              'it', 'that'))) AS n_stop
        FROM documents),
__lab AS (SELECT f.doc_id, f.fluency,
                 CASE WHEN q.n_words >= 5 AND q.n_words <= 1000
                           AND q.n_stop * 1.0 / q.n_words <= 0.5
                           AND (q.n_chars - (q.n_words - 1)) * 1.0 / q.n_words >= 2.0
                           AND (q.n_chars - (q.n_words - 1)) * 1.0 / q.n_words <= 12.0
                      THEN 1 ELSE 0 END AS ok
          FROM __fl f JOIN __q q ON f.doc_id = q.doc_id),
__n AS (SELECT doc_id, fluency, ok,
               ntile(5) OVER (ORDER BY fluency DESC, doc_id) AS bucket
        FROM __lab)
SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
       CAST(sum(ok) AS BIGINT) AS n_ok,
       round(sum(ok) * 1.0 / count(*), 6) AS ok_rate,
       round(min(fluency), 6) AS min_fluency
FROM __n GROUP BY bucket
""",
    "Extension (in-engine score evaluation — the gains-table shape): the bigram-head "
    "fluency score bucketed into quintiles via the distributed global NTILE, "
    "cross-tabulated against the independent rule-based quality gate — the lift table "
    "that tells a pipeline owner whether a cheap score predicts the expensive label "
    "before swapping it into the keep predicate.  Composes doc_fluency_scores' "
    "broadcast-head scoring with quality_ok as a map-side label; one ranking pass over "
    "the doc-sized scored relation.",
)
def fluency_quality_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_ntile
    from ..operators.text import quality_ok

    fl = doc_fluency_scores(spark, sf_dir).select(
        "doc_id", (F.col("n_common").cast("double") / F.col("n_bigrams")).alias("fluency")
    )
    docs = load_table(spark, sf_dir, "documents")
    lab = fl.join(
        docs.select("doc_id", quality_ok("text").cast("int").alias("ok")), "doc_id"
    )
    b = global_ntile(
        lab,
        [F.col("fluency").desc(), F.col("doc_id").asc()],
        5,
        bucket_col="bucket",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ok").cast("long").alias("n_ok"),
        F.round(F.sum("ok") / F.count(F.lit(1)), 6).alias("ok_rate"),
        F.round(F.min("fluency"), 6).alias("min_fluency"),
    )


@_q(
    "events_dow_adjusted_anomaly",
    """
WITH __d AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         (CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS dow,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3),
__m AS (
  SELECT event_type, dow, count(*) AS k,
         CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS q
  FROM __d GROUP BY 1, 2)
SELECT d.event_type, d.day, d.n,
       round(CAST(m.s AS DOUBLE) / m.k, 6) AS dow_mean,
       round((d.n - CAST(m.s AS DOUBLE) / m.k)
             / sqrt((CAST(m.q AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.k) / m.k), 6)
         + 0.0 AS z_score
FROM __d d JOIN __m m ON d.event_type = m.event_type AND d.dow = m.dow
WHERE (CAST(m.q AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.k) / m.k > 0
""",
    "Extension (seasonality-adjusted anomaly detection): each (type, day) volume "
    "z-scored against its OWN day-of-week cohort — Mondays compare to Mondays, so a "
    "weekly-seasonal dip stops tripping the trailing-window detector "
    "(events_daily_anomaly's complement).  Integer sum/sum-of-squares moments, exactly "
    "rounded sqrt/divisions, broadcast (type, dow) moment join, negative zero "
    "canonicalized; zero-variance cohorts are excluded on both engines.",
)
def events_dow_adjusted_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = floor_div(F.col("ts").cast("long"), F.lit(86400))
    d = ev.groupBy(
        "event_type", day.alias("day"), ((day + 4) % 7).alias("dow")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = d.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("q"),
    )
    var = (
        F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("k")
    ) / F.col("k")
    mean = F.col("s").cast("double") / F.col("k")
    return (
        d.join(F.broadcast(m), ["event_type", "dow"])
        .filter(var > 0)
        .select(
            "event_type",
            "day",
            "n",
            F.round(mean, 6).alias("dow_mean"),
            (F.round((F.col("n") - mean) / F.sqrt(var), 6) + F.lit(0.0)).alias(
                "z_score"
            ),
        )
    )


@_q(
    "value_ks_drift_by_type",
    f"""
WITH __b AS (
  SELECT event_type, {_BUCKET_SQL.format(k="event_id")} < 5000 AS in_a,
         least(999, CAST(floor(value / 0.5) AS BIGINT)) AS bin
  FROM events WHERE value IS NULL OR isfinite(value)),
__c AS (SELECT event_type, bin,
               CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        FROM __b GROUP BY 1, 2),
__t AS (SELECT event_type, sum(ca) AS ta, sum(cb) AS tb FROM __c GROUP BY 1),
__cdf AS (SELECT c.event_type,
                 sum(c.ca) OVER w * 1.0 / t.ta AS fa,
                 sum(c.cb) OVER w * 1.0 / t.tb AS fb
          FROM __c c JOIN __t t ON c.event_type = t.event_type
          WHERE t.ta > 0 AND t.tb > 0
          WINDOW w AS (PARTITION BY c.event_type ORDER BY c.bin
                       ROWS UNBOUNDED PRECEDING))
SELECT event_type, round(max(abs(fa - fb)), 6) AS ks_stat
FROM __cdf GROUP BY event_type
""",
    "Extension (distribution drift — the numeric complement of token_drift_chisq): a "
    "binned Kolmogorov-Smirnov statistic per event type between two deterministic md5 "
    "halves — max CDF gap over 1,000 half-unit value bins.  Bin counts are exact "
    "integers, the CDF is a cumulative window over the BIN relation (≤1,000 rows per "
    "type — bounded, partitioned by type), and every float op is a single "
    "exactly-rounded division, so both engines agree bit-for-bit.",
)
def value_ks_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").where(_finite_or_null("value"))
    b = ev.select(
        "event_type",
        (hash_bucket("event_id") < 5000).alias("in_a"),
        F.least(F.lit(999), F.floor(F.col("value") / 0.5)).cast("long").alias("bin"),
    )
    c = b.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("cb"),
    )
    t = c.groupBy("event_type").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # a KS statistic against an EMPTY half is undefined — drop such
    # types on both engines (degenerate hash-half regime, tiny tier)
    cdf = (
        c.join(F.broadcast(t), "event_type")
        .where((F.col("ta") > 0) & (F.col("tb") > 0))
        .select(
            "event_type",
            (F.sum("ca").over(w) / F.col("ta")).alias("fa"),
            (F.sum("cb").over(w) / F.col("tb")).alias("fb"),
        )
    )
    return cdf.groupBy("event_type").agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_stat")
    )


@_q(
    "dedup_savings_report",
    f"""
WITH RECURSIVE __p AS ({_lsh_verified_oracle(0.5)}),
__e AS (SELECT doc_a AS s, doc_b AS d FROM __p
        UNION SELECT doc_b, doc_a FROM __p),
__r AS (SELECT s AS v, d AS w FROM __e
        UNION
        SELECT r.v, e.d FROM __r r JOIN __e e ON r.w = e.s),
__lbl AS (SELECT v AS doc_id, least(v, min(w)) AS canonical_id FROM __r GROUP BY v),
__c AS (SELECT d.doc_id, d.source, d.n_chars,
               coalesce(l.canonical_id, d.doc_id) AS canonical_id
        FROM documents d LEFT JOIN __lbl l USING (doc_id))
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removable,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN doc_id <> canonical_id THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_removable,
       round(sum(CASE WHEN doc_id <> canonical_id THEN n_chars ELSE 0 END) * 1.0
             / sum(n_chars), 6) AS savings_ratio
FROM __c GROUP BY source
""",
    "Extension (dedup ROI reporting): per-source bytes/doc savings if the corpus is "
    "canonicalized — which crawls are paying for their duplication.  Reuses the "
    "memoized session-shared canonical map (no second LSH pass), one broadcast join to "
    "doc metadata, source-keyed rollup; the oracle replays the recursive-CTE closure.",
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    canon = _doc_canonical_map(spark, sf_dir).select("doc_id", "canonical_id")
    c = docs.join(canon, "doc_id")
    removable = F.col("doc_id") != F.col("canonical_id")
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(removable, 1).otherwise(0)).cast("long").alias("n_removable"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.sum(F.when(removable, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_removable"),
        F.round(
            F.sum(F.when(removable, F.col("n_chars")).otherwise(0))
            / F.sum("n_chars"),
            6,
        ).alias("savings_ratio"),
    )


@_q(
    "interarrival_percentiles_by_type",
    """
WITH __g AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id, event_type
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events)
SELECT event_type, count(*) AS n_gaps,
       round(quantile_cont(CAST(gap_us AS DOUBLE) / 1000000, 0.5), 6) AS p50_s,
       round(quantile_cont(CAST(gap_us AS DOUBLE) / 1000000, 0.9), 6) AS p90_s
FROM __g WHERE gap_us IS NOT NULL GROUP BY event_type
""",
    "Extension (behavioral cadence): per-type inter-arrival percentiles of each user's "
    "same-type event gaps — the base rate a burst/fraud detector calibrates its windows "
    "against.  Gaps in exact integer microseconds from a user-partitioned lag window "
    "(never a global sort), then exactly-halved doubles through the shared "
    "percentile-interpolation definition.",
)
def interarrival_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    gap_s = F.col("gap_us").cast("double") / 1000000
    pct = F.percentile(gap_s, F.array(F.lit(0.5), F.lit(0.9)))
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.element_at(pct, 1), 6).alias("p50_s"),
        F.round(F.element_at(pct, 2), 6).alias("p90_s"),
    )


@_q(
    "user_concentration_report",
    """
WITH __u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
__n AS (SELECT user_id, n,
               ntile(100) OVER (ORDER BY n DESC, user_id) AS pct
        FROM __u)
SELECT count(*) AS n_users, CAST(sum(n) AS BIGINT) AS n_events,
       round(sum(CASE WHEN pct = 1 THEN n ELSE 0 END) * 1.0 / sum(n), 6)
         AS top1_share,
       round(sum(CASE WHEN pct <= 10 THEN n ELSE 0 END) * 1.0 / sum(n), 6)
         AS top10_share
FROM __n
""",
    "Extension (skew diagnosis — the measurement behind every salting decision): what "
    "share of all events the top 1% / 10% of users generate, with EXACT percentile "
    "membership via the distributed global NTILE(100) over per-user counts.  A "
    "top1_share near 1 says every user-keyed shuffle in the engine needs its salted "
    "variants; integer sums and two exactly-rounded divisions.",
)
def user_concentration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_ntile

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    b = global_ntile(
        u, [F.col("n").desc(), F.col("user_id").asc()], 100, bucket_col="pct"
    )
    return b.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
        F.round(
            F.sum(F.when(F.col("pct") == 1, F.col("n")).otherwise(0)) / F.sum("n"), 6
        ).alias("top1_share"),
        F.round(
            F.sum(F.when(F.col("pct") <= 10, F.col("n")).otherwise(0)) / F.sum("n"), 6
        ).alias("top10_share"),
    )


@_q(
    "markov_next_event_accuracy",
    """
WITH __l AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events WHERE ts IS NOT NULL),
__t AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM __l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
__pred AS (SELECT prev_type, next_type AS predicted FROM (
             SELECT prev_type, next_type,
                    row_number() OVER (PARTITION BY prev_type
                                       ORDER BY n DESC, next_type) AS r
             FROM __t) WHERE r = 1)
SELECT t.prev_type, p.predicted,
       CAST(sum(t.n) AS BIGINT) AS n_transitions,
       CAST(sum(CASE WHEN t.next_type = p.predicted THEN t.n ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN t.next_type = p.predicted THEN t.n ELSE 0 END) * 1.0
             / sum(t.n), 6) AS accuracy
FROM __t t JOIN __pred p USING (prev_type)
GROUP BY t.prev_type, p.predicted
""",
    "Extension (in-engine model evaluation #3): the majority-class Markov predictor — "
    "for each current event type, predict the most frequent next type and score its "
    "accuracy over all observed transitions (the baseline any sequence model must "
    "beat, computed where the data lives).  Reuses the transition-matrix shape: one "
    "user-partitioned lag window, a 25-cell count, an argmax-per-row "
    "(deterministically tiebroken) and a broadcast join back.",
)
def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    r = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), F.col("next_type").asc()
    )
    pred = (
        pairs.withColumn("r", F.row_number().over(r))
        .filter(F.col("r") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    hit = F.when(F.col("next_type") == F.col("predicted"), F.col("n")).otherwise(0)
    return (
        pairs.join(F.broadcast(pred), "prev_type")
        .groupBy("prev_type", "predicted")
        .agg(
            F.sum("n").cast("long").alias("n_transitions"),
            F.sum(hit).cast("long").alias("n_correct"),
            F.round(F.sum(hit) / F.sum("n"), 6).alias("accuracy"),
        )
    )


@_q(
    "embedding_correlation_matrix",
    f"""
WITH {_EMB_COV_CTES},
__diag AS (SELECT i AS d, cov AS var FROM __cov WHERE i = j)
SELECT CAST(c.i AS BIGINT) AS i, CAST(c.j AS BIGINT) AS j,
       round(c.cov / sqrt(a.var * b.var), 6) + 0.0 AS corr
FROM __cov c JOIN __diag a ON c.i = a.d JOIN __diag b ON c.j = b.d
WHERE a.var > 0 AND b.var > 0
""",
    "Extension (feature statistics #2): Pearson correlation cells from the shared "
    "covariance relation — corr = cov / sqrt(var_i * var_j) with the 64-row diagonal "
    "joined broadcast twice; sqrt and division exactly rounded over the already-"
    "deterministic rounded covariances, zero-variance dimensions excluded on both "
    "engines, negative zero canonicalized.  The whitening / redundant-feature map of "
    "the embedding space at dim^2 cost after one corpus pass.",
)
def embedding_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cov = _emb_cov_df(spark, sf_dir).select("i", "j", "cov")
    diag = cov.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("cov").alias("var")
    )
    c = (
        cov.join(
            F.broadcast(diag.select(F.col("d").alias("i"), F.col("var").alias("va"))),
            "i",
        )
        .join(
            F.broadcast(diag.select(F.col("d").alias("j"), F.col("var").alias("vb"))),
            "j",
        )
        .filter((F.col("va") > 0) & (F.col("vb") > 0))
    )
    return c.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        (
            F.round(F.col("cov") / F.sqrt(F.col("va") * F.col("vb")), 6) + F.lit(0.0)
        ).alias("corr"),
    )


@_q(
    "revenue_forecast_backtest",
    """
WITH __d AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
__f AS (
  SELECT day, cents,
         lag(cents, 7)  OVER w AS l7,  lag(cents, 14) OVER w AS l14,
         lag(cents, 21) OVER w AS l21, lag(cents, 28) OVER w AS l28
  FROM __d WINDOW w AS (ORDER BY day)),
__s AS (
  SELECT day, cents,
         abs(4 * cents - (l7 + l14 + l21 + l28)) AS err_q
  FROM __f WHERE l28 IS NOT NULL)
SELECT count(*) AS n_days,
       round(CAST(sum(err_q) AS DOUBLE) / (4 * 100 * count(*)), 6) AS mae,
       round(CAST(sum(err_q) AS DOUBLE) / (4 * CAST(sum(cents) AS DOUBLE)), 6) AS wape
FROM __s
""",
    "Extension (in-engine forecasting baseline): the seasonal-naive forecast — each "
    "day predicted by the mean of the same weekday's last 4 observations — backtested "
    "over the whole history with MAE and weighted-absolute-percentage error.  The "
    "model any revenue forecast must beat, computed on the day-sized pre-aggregation "
    "(the lag window's single ordered partition is calendar-bounded, the documented "
    "weekly_revenue_wow exception); integer cents keep every engine difference to two "
    "final exactly-rounded divisions.",
)
def revenue_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    d = o.groupBy(
        floor_div(F.col("o_orderdate").cast("long"), F.lit(86400)).alias("day")
    ).agg((F.sum(_dec("o_totalprice")) * 100).cast("long").alias("cents"))
    w = Window.orderBy("day")
    f = d.select(
        "day",
        "cents",
        *[F.lag("cents", k).over(w).alias(f"l{k}") for k in (7, 14, 21, 28)],
    ).filter(F.col("l28").isNotNull())
    # exact integer quarter-cents: |4*actual - sum(lags)| sums as BIGINT,
    # so the whole backtest is order-independent with two final divisions
    err_q = F.abs(
        4 * F.col("cents") - (F.col("l7") + F.col("l14") + F.col("l21") + F.col("l28"))
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.sum(err_q).cast("double") / (400 * F.count(F.lit(1))), 6
        ).alias("mae"),
        F.round(
            F.sum(err_q).cast("double") / (4 * F.sum("cents").cast("double")), 6
        ).alias("wape"),
    )


@_q(
    "supplier_quality_scorecard",
    f"""
SELECT s_name,
       count(*) AS n_items,
       CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue,
       round(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS late_rate,
       round(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS return_rate
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
""",
    "Extension (vendor scorecard): per-supplier volume, >30-day-late rate, return "
    "rate and revenue in ONE grouped pass over the fact join — supplier broadcast, "
    "orders co-keyed on the order key, conditional aggregation instead of N "
    "filtered scans.",
)
def supplier_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
        F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
    ret = F.col("l_returnflag") == "R"
    return j.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late"),
        F.sum(F.when(ret, 1).otherwise(0)).cast("long").alias("n_returned"),
        F.sum(_revenue()).cast("double").alias("revenue"),
        F.round(F.sum(F.when(late, 1).otherwise(0)) / F.count(F.lit(1)), 6).alias(
            "late_rate"
        ),
        F.round(F.sum(F.when(ret, 1).otherwise(0)) / F.count(F.lit(1)), 6).alias(
            "return_rate"
        ),
    )


@_q(
    "text_readability_scores",
    """
WITH __s AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words,
         len(list_filter(string_split(text, '. '), x -> x <> '')) AS n_sents,
         len(list_filter(string_split(text, ' '), w -> length(w) >= 7)) AS n_long
  FROM documents)
SELECT doc_id, n_words, CAST(n_sents AS BIGINT) AS n_sentences,
       round(CASE WHEN n_sents > 0 THEN n_words * 1.0 / n_sents END, 6)
         AS words_per_sentence,
       round(CASE WHEN n_words > 0 THEN n_long * 1.0 / n_words END, 6)
         AS long_word_ratio
FROM __s
""",
    "Extension (model-free readability proxy, LIX/Coleman-shaped without logs or "
    "syllables): words per '. '-delimited sentence and the >=7-char long-word share — "
    "the two integer-ratio signals the classic readability indices combine.  Pure "
    "map-only projection at scan speed; ratios are single exactly-rounded divisions.",
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    sents = F.filter(F.split(F.col("text"), "\\. ", -1), lambda x: x != "")
    longw = F.filter(words, lambda w: F.length(w) >= 7)
    n_words, n_sents, n_long = F.size(words), F.size(sents), F.size(longw)
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sentences"),
        F.round(
            F.when(n_sents > 0, n_words.cast("double") / n_sents), 6
        ).alias("words_per_sentence"),
        F.round(
            F.when(n_words > 0, n_long.cast("double") / n_words), 6
        ).alias("long_word_ratio"),
    )


@_q(
    "part_price_dispersion",
    """
WITH __s AS (
  SELECT p_type, count(*) AS n,
         sum(CAST(p_retailprice AS DECIMAL(28,12))) AS s,
         sum(CAST(p_retailprice * p_retailprice AS DECIMAL(28,12))) AS q
  FROM part GROUP BY p_type)
SELECT p_type, n,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_price,
       round(sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
             / (CAST(s AS DOUBLE) / n), 6) AS cv
FROM __s WHERE n >= 2 AND CAST(s AS DOUBLE) > 0
""",
    "Extension (pricing consistency): per-type retail-price coefficient of variation "
    "(std / mean) — the commodity-vs-specialty signal — via the decimal two-moment "
    "pattern: order-independent DECIMAL(28,12) sums, then one closed-form double "
    "expression (sqrt and divisions exactly rounded).  One part-type shuffle.",
)
def part_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    dec = "decimal(28,12)"
    s = part.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("p_retailprice").cast(dec)).alias("s"),
        F.sum((F.col("p_retailprice") * F.col("p_retailprice")).cast(dec)).alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / F.col("n")
    return (
        s.filter((F.col("n") >= 2) & (F.col("s").cast("double") > 0))
        .select(
            "p_type",
            "n",
            F.round(mean, 6).alias("mean_price"),
            F.round(F.sqrt(var) / mean, 6).alias("cv"),
        )
    )


@_q(
    "nation_customer_value_quartiles",
    """
WITH __r AS (SELECT c_nationkey, o_custkey,
                    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             FROM orders JOIN customer ON o_custkey = c_custkey
             GROUP BY 1, 2),
__n AS (SELECT c_nationkey, rev,
               ntile(4) OVER (PARTITION BY c_nationkey
                              ORDER BY rev DESC, o_custkey) AS quartile
        FROM __r)
SELECT n_name, CAST(quartile AS BIGINT) AS quartile,
       count(*) AS n_customers, CAST(sum(rev) AS DOUBLE) AS quartile_revenue
FROM __n JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, quartile
""",
    "Extension (partitioned ranking — the scale-SAFE ntile): customer revenue "
    "quartiles WITHIN each nation via the native partitioned window (partitionBy "
    "bounds each sort to one nation's customers — no single-partition stage, so no "
    "ranking.py machinery needed; the global-order variants are what demand it).  "
    "Broadcast nation names, one customer aggregation exchange reused by the window.",
)
def nation_customer_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(_dec("o_totalprice")).alias("rev"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("rev").desc(), F.col("o_custkey").asc()
    )
    q = r.withColumn("quartile", F.ntile(4).over(w).cast("long"))
    return (
        q.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev").cast("double").alias("quartile_revenue"),
        )
    )


@_q(
    "order_lines_distribution",
    """
WITH __c AS (SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1)
SELECT CAST(n_lines AS BIGINT) AS n_lines, count(*) AS n_orders
FROM __c GROUP BY n_lines
""",
    "Extension (fact-shape profiling): the lines-per-order distribution — the join "
    "fan-out statistic every orders⋈lineitem cost estimate rests on.  Two chained "
    "aggregations, the second over the already-order-sized relation.",
)
def order_lines_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return c.groupBy("n_lines").agg(F.count(F.lit(1)).alias("n_orders"))


@_q(
    "region_quarterly_growth",
    f"""
WITH __r AS (
  SELECT r_name,
         CAST(floor(epoch(o_orderdate) / 7776000) AS BIGINT) AS quarter,
         SUM({{rev}}) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE o_orderdate IS NOT NULL
  GROUP BY 1, 2)
SELECT r_name, quarter, CAST(rev AS DOUBLE) AS revenue,
       round(CAST(rev AS DOUBLE)
             / CAST(lag(rev) OVER (PARTITION BY r_name ORDER BY quarter) AS DOUBLE)
             - 1.0, 6) AS qoq_growth
FROM __r
""".format(rev="CAST(o_totalprice AS DECIMAL(18,2))"),
    "Extension (regional trend): revenue per (region, 90-day epoch quarter) with "
    "quarter-over-quarter growth — broadcast dim chain into one grouped pass, then a "
    "lag window over the region-partitioned, calendar-bounded quarter relation "
    "(first quarter's growth is NULL on both engines).  Calendar-free epoch "
    "bucketing per the repo rule.",
)
def region_quarterly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # undated orders have no quarter (a NULL quarter would also take
    # the lag chain apart differently per engine)
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    q = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            "r_name",
            floor_div(F.col("o_orderdate").cast("long"), 7776000).alias("quarter"),
        )
        .agg(F.sum(_dec("o_totalprice")).alias("rev"))
    )
    w = Window.partitionBy("r_name").orderBy("quarter")
    return q.select(
        "r_name",
        "quarter",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.lag(F.col("rev")).over(w).cast("double")
            - 1.0,
            6,
        ).alias("qoq_growth"),
    )


@_q(
    "mktsegment_revenue_share",
    """
WITH __s AS (
  SELECT c_mktsegment, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
         count(*) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1),
__t AS (SELECT sum(rev) AS tot FROM __s)
SELECT c_mktsegment, n_orders, CAST(rev AS DOUBLE) AS revenue,
       round(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS revenue_share
FROM __s CROSS JOIN __t
""",
    "Extension (segment mix): revenue and share per customer market segment — one "
    "fact join + grouped pass, the segment-sized result joined to its own 1-row total "
    "broadcast; decimal sums, one exactly-rounded share division.",
)
def mktsegment_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.sum(_dec("o_totalprice")).alias("rev"), F.count(F.lit(1)).alias("n_orders"))
    )
    t = s.agg(F.sum("rev").alias("tot"))
    return s.crossJoin(F.broadcast(t)).select(
        "c_mktsegment",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        F.round(F.col("rev").cast("double") / F.col("tot").cast("double"), 6).alias(
            "revenue_share"
        ),
    )


@_q(
    "tax_effect_by_linestatus",
    """
WITH __x AS (
  SELECT l_linestatus,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS ep,
         CAST(CAST(1 - l_discount AS DECIMAL(4,2))
              * CAST(1 + l_tax AS DECIMAL(4,2)) AS DECIMAL(8,4)) AS factor,
         CAST(1 - l_discount AS DECIMAL(4,2)) AS disc
  FROM lineitem)
SELECT l_linestatus, count(*) AS n_items,
       CAST(SUM(ep * disc) AS DOUBLE) AS net_revenue,
       CAST(SUM(ep * factor) AS DOUBLE) AS charged_revenue,
       round(CAST(SUM(ep * factor) AS DOUBLE) / CAST(SUM(ep * disc) AS DOUBLE)
             - 1.0, 6) AS effective_tax_rate
FROM __x GROUP BY l_linestatus
""",
    "Extension (TPC-H Q1's tax leg): net vs tax-charged revenue per linestatus and "
    "the effective blended tax rate.  Discount and tax are 2-dp values, so "
    "(1-d)*(1+t) is EXACT at 4 dp — quantizing the combined factor to DECIMAL(8,4) "
    "performs no rounding at all (an earlier draft re-quantized the disc_price "
    "product to 2 dp and tripped the HALF_UP-vs-HALF_EVEN boundary between engines); "
    "every sum is then an exact decimal, scan-only with map-side combine.",
)
def tax_effect_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ep = _dec("l_extendedprice")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    factor = (disc * (F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")).cast(
        "decimal(8,4)"
    )
    agg = li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(ep * disc).alias("nr"),
        F.sum(ep * factor).alias("cr"),
    )
    return agg.select(
        "l_linestatus",
        "n_items",
        F.col("nr").cast("double").alias("net_revenue"),
        F.col("cr").cast("double").alias("charged_revenue"),
        F.round(
            F.col("cr").cast("double") / F.col("nr").cast("double") - 1.0, 6
        ).alias("effective_tax_rate"),
    )


# =====================================================================
# Temporal hygiene — clock audits + quarantine (round 5, times tier)
# =====================================================================

#: shared floored-epoch classifier — the oracle twin of
#: operators/profile.clock_audit (same first-match-wins order)
_CLOCK_KIND_SQL = """CASE
  WHEN ts IS NULL THEN 'unstamped'
  WHEN __s = 0 THEN 'epoch_zero'
  WHEN __s <= -9223285637 OR __s >= 9223285636 THEN 'nanos_edge'
  WHEN __s < 0 THEN 'pre_epoch'
  WHEN __s < 946684800 THEN 'before_sane'
  WHEN __s >= 2051222400 THEN 'after_sane'
  ELSE 'ok' END"""


@_q(
    "events_clock_audit",
    f"""
WITH __e AS (SELECT ts, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS __s FROM events)
SELECT {_CLOCK_KIND_SQL} AS kind,
       count(*) AS n,
       min(__s) AS min_s, max(__s) AS max_s,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
FROM __e GROUP BY 1
""",
    "Extension (temporal hygiene): timestamp-sanity report over events — one row per "
    "corruption class (unstamped / epoch_zero / nanos_edge / pre_epoch / before_sane / "
    "after_sane / ok) with counts, distinct users, and floored epoch bounds; the audit "
    "a 100 TB ingest runs before trusting a new drop's clocks.  Map-only "
    "classification, <=7-row aggregate (partial agg collapses map-side).",
)
def events_clock_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import clock_audit

    ev = load_table(spark, sf_dir, "events")
    return clock_audit(ev, "ts", key_col="user_id")


@_q(
    "orders_date_sentinel_audit",
    """
WITH __o AS (SELECT o_orderdate, o_totalprice,
                    CAST(floor(epoch(o_orderdate)) AS BIGINT) AS __s FROM orders)
SELECT CASE
  WHEN o_orderdate IS NULL THEN 'missing'
  WHEN __s = -2208988800 THEN 'y1900'
  WHEN __s = 253402214400 THEN 'y9999'
  WHEN __s = 0 THEN 'epoch_zero'
  WHEN __s < 0 THEN 'pre_epoch'
  WHEN __s >= 2051222400 THEN 'future'
  ELSE 'ok' END AS kind,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       min(__s) AS min_s, max(__s) AS max_s
FROM __o GROUP BY 1
""",
    "Extension (temporal hygiene): dirty-date sentinel census over orders — the "
    "1900-01-01 / 9999-12-31 / epoch-zero placeholder dates legacy feeds emit, with "
    "order counts and revenue at stake per class.  Map-only, <=7-row aggregate.",
)
def orders_date_sentinel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    s = F.col("o_orderdate").cast("long")
    kind = (
        F.when(F.col("o_orderdate").isNull(), "missing")
        .when(s == -2208988800, "y1900")
        .when(s == 253402214400, "y9999")
        .when(s == 0, "epoch_zero")
        .when(s < 0, "pre_epoch")
        .when(s >= 2051222400, "future")
        .otherwise("ok")
    )
    return o.groupBy(kind.alias("kind")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        F.min(s).alias("min_s"),
        F.max(s).alias("max_s"),
    )


@_q(
    "events_ts_quarantine_split",
    """
WITH __e AS (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS __s FROM events)
SELECT CASE
  WHEN ts IS NULL THEN 'unstamped'
  WHEN __s < 946684800 OR __s >= 2051222400 THEN 'quarantined'
  ELSE 'kept' END AS status,
       count(*) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       min(__s) AS min_s, max(__s) AS max_s
FROM __e GROUP BY 1
""",
    "Extension (temporal hygiene): the quarantine REPAIR policy (operators/profile."
    "quarantine_by_ts) as a census — corrupt-clock rows route to a quarantine sink "
    "instead of silently polluting every downstream day bucket; this query shows what "
    "each branch of the split carries.  Map-only classify, 3-row aggregate; pair with "
    "a status-partitioned write for the actual split.",
)
def events_ts_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import quarantine_by_ts

    ev = load_table(spark, sf_dir, "events")
    s = F.col("ts").cast("long")
    return (
        quarantine_by_ts(ev, "ts")
        .groupBy(F.col("__ts_status").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.count_distinct(F.col("event_type")).alias("n_types"),
            F.min(s).alias("min_s"),
            F.max(s).alias("max_s"),
        )
    )


# =====================================================================
# Coverage / attribution / SCD2 analytics (round 5)
# =====================================================================


@_q(
    "user_activity_coverage",
    """
WITH __d AS (
  -- duplicate collapse: see sessionize_users (tie-order hazard)
  SELECT user_id, ts, event_id, count(*) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3),
__f AS (
  SELECT user_id, ts, event_id, c,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0 THEN 1 ELSE 0 END AS is_start
  FROM __d
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
__g AS (
  SELECT user_id, ts, c,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM __f),
__s AS (
  SELECT user_id,
         CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS span_s,
         sum(c) AS n_events
  FROM __g GROUP BY user_id, session_id)
SELECT user_id,
       count(*) AS n_islands,
       CAST(sum(span_s) AS BIGINT) AS covered_s,
       max(span_s) AS max_island_s,
       CAST(sum(n_events) AS BIGINT) AS n_events
FROM __s GROUP BY user_id
""",
    "Extension (gaps-and-islands coverage): per user, merge events within a 30-min gap "
    "into activity islands and report island count, total covered seconds, and the "
    "longest island — the engagement-coverage rollup on top of sessionize (one reused "
    "windowed pass + a user-sized aggregate; scale = sessionize's, see SCALE.md).",
)
def user_activity_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, gap_seconds=1800, tiebreak_col="event_id")
    span = F.col("session_end") - F.col("session_start")
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(span).alias("covered_s"),
        F.max(span).alias("max_island_s"),
        F.sum("n_events").alias("n_events"),
    )


@_q(
    "last_touch_attribution",
    """
WITH __e AS (
  SELECT user_id, ts, event_id, event_type, value,
         epoch(ts) AS tse
  FROM events WHERE ts IS NOT NULL),
__t AS (
  SELECT *,
         max(CASE WHEN event_type <> 'purchase' OR event_type IS NULL
                  THEN struct_pack(tse := tse, event_id := event_id, event_type := event_type) END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM __e)
SELECT CASE WHEN touch IS NOT NULL AND tse - touch.tse <= 604800.0
            THEN touch.event_type END AS touch_type,
       count(*) AS n_purchases,
       CAST(sum(CASE WHEN isfinite(value) THEN value END) AS DOUBLE) AS attributed_value
FROM __t
WHERE event_type = 'purchase'
GROUP BY 1
""",
    "Extension (marketing attribution, AppMarketing* family follow-on): every purchase "
    "is attributed to the user's most recent non-purchase touchpoint within 7 days "
    "strictly before it (last-touch); purchases with no fresh touch fall in the NULL "
    "bucket.  One windowed pass per user (running max of a (ts, tiebreak, type) "
    "struct — an O(n) sliding frame, no self-join), then a handful-of-rows aggregate.  "
    "Non-finite purchase values are excluded from the attributed sum by the _finite "
    "contract.",
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    tse = F.col("ts").cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonpurchase = F.col("event_type").isNull() | (F.col("event_type") != "purchase")
    touch = F.max(
        F.when(
            nonpurchase,
            F.struct(
                tse.alias("tse"),
                F.col("event_id").alias("event_id"),
                F.col("event_type").alias("event_type"),
            ),
        )
    ).over(w)
    t = ev.withColumn("__tse", tse).withColumn("__touch", touch).where(
        F.col("event_type") == "purchase"
    )
    touch_type = F.when(
        F.col("__touch").isNotNull()
        & (F.col("__tse") - F.col("__touch.tse") <= F.lit(604800.0)),
        F.col("__touch.event_type"),
    )
    return t.groupBy(touch_type.alias("touch_type")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.when(_finite("value"), F.col("value")))
        .cast("double")
        .alias("attributed_value"),
    )


@_q(
    "user_state_scd2",
    """
WITH __e AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE ts IS NOT NULL),
__f AS (
  SELECT *,
         CASE WHEN lag(ts) OVER w IS NULL
                OR event_type IS DISTINCT FROM lag(event_type) OVER w THEN 1 ELSE 0 END AS chg
  FROM __e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
__g AS (
  SELECT *,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run_id
  FROM __f),
__r AS (
  SELECT user_id, CAST(run_id AS BIGINT) AS run_id, any_value(event_type) AS state,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS valid_from_s,
         count(*) AS n_events
  FROM __g GROUP BY user_id, run_id)
SELECT user_id, run_id, state, valid_from_s,
       lead(valid_from_s) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to_s,
       n_events
FROM __r
""",
    "Extension (SCD2 interval construction): per user, consecutive equal event_type "
    "runs compress into validity intervals [valid_from_s, valid_to_s) with the open "
    "interval's valid_to NULL — the slowly-changing-dimension build every warehouse "
    "derives from a change stream.  NULL-safe state comparison (IS DISTINCT FROM / "
    "eqNullSafe) so a NULL state is its own run, not a run-bridger; unstamped rows "
    "are excluded by the NULL-ts contract.  Two windowed passes per user (run "
    "numbering, then lead over run-sized rows) — no self-join.",
)
def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev_ts = F.lag("ts").over(w)
    prev_type = F.lag("event_type").over(w)
    chg = F.when(
        prev_ts.isNull() | ~F.col("event_type").eqNullSafe(prev_type), 1
    ).otherwise(0)
    runs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("__chg", chg)
        .withColumn(
            "run_id",
            F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "run_id")
        .agg(
            F.any_value("event_type").alias("state"),
            F.min("ts").cast("long").alias("valid_from_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    return runs.select(
        "user_id",
        "run_id",
        "state",
        "valid_from_s",
        F.lead("valid_from_s").over(w2).alias("valid_to_s"),
        "n_events",
    )


# =====================================================================
# Extension — record linkage / fuzzy matching (operators/linkage.py)
# =====================================================================

from ..operators.linkage import (  # noqa: E402
    ascii_only,
    fuzzy_best_match,
    fuzzy_self_pairs,
)

#: distinct ASCII part names — the linkage family's catalog relation.
#: octet_length = length restricts to the domain where Spark (codepoint)
#: and DuckDB (byte) edit distances agree (linkage.py module docstring).
_ASCII_NAMES_SQL = """
SELECT DISTINCT p_name AS name FROM part
WHERE p_name IS NOT NULL AND strlen(p_name) = length(p_name)
"""


@_q(
    "fuzzy_part_name_pairs",
    f"""
WITH __n AS ({_ASCII_NAMES_SQL})
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist
FROM __n a JOIN __n b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= 2
""",
    "Extension (record linkage): all pairs of distinct part names within 2 edits, via "
    "SymSpell deletion-neighborhood blocking + levenshtein verify — provably complete, "
    "no cross join (the oracle IS the quadratic cross join, feasible only at oracle "
    "scale).  ASCII-only by the linkage contract (Spark codepoint vs DuckDB byte "
    "distances diverge on multibyte input).",
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(F.col("p_name").alias("name"))
    return fuzzy_self_pairs(part, "name", max_dist=2)


@_q(
    "fuzzy_token_clusters",
    """
WITH RECURSIVE __tok AS (
  SELECT DISTINCT tok FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE text IS NOT NULL)
  WHERE tok <> '' AND strlen(tok) = length(tok)),
__p AS (
  SELECT a.tok AS ta, b.tok AS tb FROM __tok a JOIN __tok b ON a.tok < b.tok
  WHERE levenshtein(a.tok, b.tok) <= 2),
__e AS (SELECT ta AS s, tb AS d FROM __p UNION SELECT tb, ta FROM __p),
__r AS (SELECT s AS v, d AS w FROM __e
        UNION
        SELECT r.v, e.d FROM __r r JOIN __e e ON r.w = e.s),
__lbl AS (SELECT v AS tok, least(v, min(w)) AS canon FROM __r GROUP BY v),
__m AS (SELECT t.tok, coalesce(l.canon, t.tok) AS canon
        FROM __tok t LEFT JOIN __lbl l USING (tok))
SELECT m.tok AS token, m.canon AS canon_token, c.n AS cluster_size
FROM __m m JOIN (SELECT canon, count(*) AS n FROM __m GROUP BY canon) c USING (canon)
""",
    "Extension (vocabulary normalization): document vocabulary tokens within 2 edits "
    "of each other clustered by connected components (large-star/small-star — string "
    "node ids, lexicographic least = oracle's least()); every token mapped to its "
    "cluster's lexicographically-least member plus the cluster size.  The typo-collapse "
    "step of tokenizer/vocab hygiene.  Eager by contract (iterative star contraction).",
)
def fuzzy_token_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .where((F.col("token") != "") & ascii_only("token"))
        .distinct()
    )
    # r12 (verdict #6): the per-(session, sf_dir) memo of the component
    # mapping was single-consumer median-shaping — reps 2-3 of THIS
    # query were the only beneficiaries.  Dropped in favor of a real
    # fix: duplicate_components' star loop now uses window-min rounds
    # and a one-action star-forest fixpoint probe (operators/dedup.py),
    # ~30% cheaper per eager call for EVERY consumer, memoized or not.
    from ..operators.dedup import duplicate_components

    pairs = fuzzy_self_pairs(toks, "token", max_dist=2)
    comp = duplicate_components(pairs, "token_a", "token_b", deep=True).select(
        F.col("v").alias("token"), F.col("label")
    )
    mapping = toks.join(F.broadcast(comp), "token", "left").select(
        "token", F.coalesce(F.col("label"), F.col("token")).alias("canon_token")
    )
    sizes = mapping.groupBy("canon_token").agg(F.count(F.lit(1)).alias("cluster_size"))
    return mapping.join(F.broadcast(sizes), "canon_token").select(
        "token", "canon_token", "cluster_size"
    )


@_q(
    "fuzzy_catalog_match",
    f"""
WITH __n AS ({_ASCII_NAMES_SQL.replace("strlen(p_name) = length(p_name)",
                                       "strlen(p_name) = length(p_name) AND length(p_name) >= 1")}),
__pr AS (
  SELECT DISTINCT concat(substring(name, 1, CAST(pos AS INT) - 1),
                         substring(name, CAST(pos AS INT) + 1)) AS probe
  FROM (SELECT name,
               ('0x' || substring(md5(name), 1, 8))::UBIGINT % length(name) + 1 AS pos
        FROM __n)),
__sc AS (
  SELECT p.probe, n.name, CAST(levenshtein(p.probe, n.name) AS INT) AS d
  FROM __pr p JOIN __n n ON abs(length(p.probe) - length(n.name)) <= 1
  WHERE levenshtein(p.probe, n.name) <= 1)
SELECT probe, name AS best_match, d AS dist FROM (
  SELECT probe, name, d,
         row_number() OVER (PARTITION BY probe ORDER BY d, name) AS rn
  FROM __sc)
WHERE rn = 1
""",
    "Extension (entity resolution): deterministically-corrupted part names (one char "
    "deleted at an md5-derived position — identical surgery on both engines) resolved "
    "back against the clean catalog, best match = arg-min (distance, name) within 1 "
    "edit via one struct-min aggregation, no window.  Same blocked candidate "
    "generation as the pair queries — the fuzzy-lookup building block.",
)
def fuzzy_catalog_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .where(ascii_only("name") & (F.length("name") >= 1))
        .distinct()
    )
    pos = (
        F.conv(F.substring(F.md5("name"), 1, 8), 16, 10).cast("long")
        % F.length("name").cast("long")
        + 1
    )
    probes = names.withColumn("__pos", pos).select(
        F.expr(
            "concat(substring(name, 1, CAST(__pos AS INT) - 1), "
            "substring(name, CAST(__pos AS INT) + 1))"
        ).alias("probe")
    )
    return fuzzy_best_match(probes, names, "probe", "name", max_dist=1)


# =====================================================================
# Extension — BPE tokenizer training (operators/bpe.py)
# =====================================================================

from ..operators.bpe import bpe_oracle_sql, bpe_train_curve, word_frequencies  # noqa: E402

_BPE_ROUNDS = 6

#: (word, freq) corpus relation — DuckDB side of word_frequencies()
_BPE_CORPUS_SQL = """
SELECT word, count(*) AS freq FROM (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents WHERE text IS NOT NULL)
WHERE word <> '' GROUP BY word
"""


def _bpe_final(spark: SparkSession, sf_dir: str):
    """Train once per (session, sf_dir); every BPE query shares the
    result.  Training is eager by contract (driver loop of 1-row
    arg-max + curve probes, operators/bpe.py).  Returns (merges_df,
    final_words_df, curve_df)."""

    def build():
        docs = load_table(spark, sf_dir, "documents")
        merges, final, curve = bpe_train_curve(
            word_frequencies(docs), rounds=_BPE_ROUNDS
        )
        return (
            spark.createDataFrame(
                [(r, x, y, c) for r, x, y, c in merges],
                "round int, x string, y string, cnt long",
            ),
            final,
            spark.createDataFrame(curve, "round int, total_tokens long"),
        )

    return _cached_canon(spark, sf_dir, "bpe_training", build)


@_q(
    "bpe_learn_merges",
    bpe_oracle_sql(_BPE_ROUNDS, _BPE_CORPUS_SQL)
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS round, x, y, x || y AS merged, cnt FROM __b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    ),
    "Extension (tokenizer training): the first 6 BPE merges learned from the document "
    "corpus — per round, adjacent-symbol pair counts weighted by word frequency over "
    "the DISTINCT-word relation (vocab-scale, not corpus-scale), global arg-max with "
    "(count, x, y) tie-break, then greedy leftmost non-overlapping merge as a map-side "
    "fold.  The oracle replays the identical rounds with a window/run-parity merge "
    "formulation, proving the two equivalent.  Eager by contract (driver training loop).",
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _, _ = _bpe_final(spark, sf_dir)
    return merges.select(
        "round", "x", "y", F.concat("x", "y").alias("merged"), "cnt"
    )


@_q(
    "bpe_segment_words",
    bpe_oracle_sql(_BPE_ROUNDS, _BPE_CORPUS_SQL)
    + f"""
SELECT word, freq, array_to_string(s, ' ') AS segmentation,
       CAST(len(s) AS INT) AS n_symbols
FROM __w{_BPE_ROUNDS}
""",
    "Extension (tokenizer training): every vocabulary word segmented by the 6 learned "
    "BPE merges — (word, corpus freq, space-joined symbols, symbol count).  The apply "
    "surface of bpe_learn_merges; shares the memoized training run.",
)
def bpe_segment_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, final, _ = _bpe_final(spark, sf_dir)
    return final.select(
        "word",
        "freq",
        F.array_join("s", " ").alias("segmentation"),
        F.size("s").alias("n_symbols"),
    )


@_q(
    "bpe_corpus_fertility",
    bpe_oracle_sql(_BPE_ROUNDS, _BPE_CORPUS_SQL)
    + f""",
__cw AS (
  SELECT lang, source, word FROM (
    SELECT lang, source, unnest(string_split(text, ' ')) AS word
    FROM documents WHERE text IS NOT NULL)
  WHERE word <> '')
SELECT d.lang, d.source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(w.s)) AS BIGINT) AS n_tokens,
       CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
       CAST(sum(len(w.s)) AS DOUBLE) / count(*) AS fertility,
       CAST(sum(length(d.word)) AS DOUBLE) / sum(len(w.s)) AS chars_per_token
FROM __cw d JOIN __w{_BPE_ROUNDS} w USING (word)
GROUP BY 1, 2
""",
    "Extension (tokenizer training): the learned BPE merges applied back to the FULL "
    "corpus — per (lang, source): word/token/codepoint totals, fertility (tokens per "
    "word) and compression (codepoints per token).  The apply pass is the scale story: "
    "corpus words equi-join the trained vocab→symbol-count relation (vocab-sized, "
    "BROADCAST), so applying a tokenizer to 100 TB is one map-side join + one "
    "group-bounded aggregate; only training (bpe_learn_merges) iterates.  Every corpus "
    "word is in the vocab by construction, so the inner join drops nothing.",
)
def bpe_corpus_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    _, final, _ = _bpe_final(spark, sf_dir)
    toks = final.select("word", F.size("s").alias("__n_sym"))
    words = (
        docs.filter(F.col("text").isNotNull())
        .select("lang", "source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        words.join(F.broadcast(toks), "word")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__n_sym").alias("n_tokens"),
            F.sum(F.length("word")).alias("n_chars"),
            (F.sum("__n_sym").cast("double") / F.count(F.lit(1))).alias("fertility"),
            (F.sum(F.length("word")).cast("double") / F.sum("__n_sym")).alias(
                "chars_per_token"
            ),
        )
    )


# =====================================================================
# Extension — remaining TPC-H join shapes (Q14 / Q15 / Q9 analogs)
# =====================================================================


@_q(
    "promo_revenue_by_month",
    f"""
SELECT CAST(floor(epoch(l_shipdate) / 2592000) AS BIGINT) AS ship_month,
       CAST(coalesce(SUM(CASE WHEN p_type = 'PROMO' THEN {_REVENUE_SQL} END), 0)
            AS DOUBLE) AS promo_revenue,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS total_revenue,
       CASE WHEN SUM({_REVENUE_SQL}) > 0
            THEN 100.0 * CAST(coalesce(SUM(CASE WHEN p_type = 'PROMO'
                                              THEN {_REVENUE_SQL} END), 0) AS DOUBLE)
                 / CAST(SUM({_REVENUE_SQL}) AS DOUBLE) END AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
""",
    "Extension (TPC-H Q14-style promotion effect): per 30-day epoch month, the share "
    "of revenue from PROMO-type parts — conditional decimal aggregation over the "
    "lineitem⋈part star edge with the part dimension BROADCAST; the share ratio is "
    "zero-denominator-guarded to NULL on both engines (ANSI mode).",
)
def promo_revenue_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    month = floor_div(F.col("l_shipdate").cast("long"), F.lit(2592000)).alias("ship_month")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", _revenue())).cast("decimal(38,4)")
    total = F.sum(_revenue())
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(month)
        .agg(
            F.coalesce(promo, F.lit(0)).cast("double").alias("promo_revenue"),
            total.cast("double").alias("total_revenue"),
            F.when(
                total > 0,
                F.lit(100.0)
                * F.coalesce(promo, F.lit(0)).cast("double")
                / total.cast("double"),
            ).alias("promo_share_pct"),
        )
    )


@_q(
    "top_supplier_revenue",
    f"""
WITH __rev AS (
  SELECT l_suppkey, SUM({_REVENUE_SQL}) AS total
  FROM lineitem GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
FROM __rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total = (SELECT max(total) FROM __rev)
""",
    "Extension (TPC-H Q15-style top supplier): the supplier(s) with maximum lifetime "
    "revenue, ties INCLUDED — the max is computed on exact DECIMAL sums (double "
    "equality would be a correctness bug) over the supplier-sized pre-aggregate, then "
    "broadcast back as a 1-row join; no global sort, no single-partition window.  The "
    "supplier dimension joins BROADCAST for the name.",
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(F.sum(_revenue()).alias("__total"))
    mx = rev.agg(F.max("__total").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), F.col("__total") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("__total").cast("double").alias("total_revenue"))
    )


@_q(
    "nation_parttype_list_margin",
    f"""
SELECT n_name, p_type,
       CAST(floor(epoch(l_shipdate) / 31536000) AS BIGINT) + 1970 AS ship_year,
       CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS actual_revenue,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2)))
            AS DOUBLE) AS list_value,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2)))
            - SUM({_REVENUE_SQL}) AS DOUBLE) AS discount_from_list
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2, 3
""",
    "Extension (TPC-H Q9-style profit cube, honest variant): per supplier-nation x "
    "part-type x 365-day epoch year, realized revenue vs quantity x list price — the "
    "testdata carries no supplycost column, so the Q9 'profit' is restated as the "
    "exact-decimal discount-from-list margin.  All three dimensions (part, supplier, "
    "nation) BROADCAST onto the fact scan; one shuffle for the group-by.",
)
def nation_parttype_list_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    year = (floor_div(F.col("l_shipdate").cast("long"), F.lit(31536000)) + 1970).alias(
        "ship_year"
    )
    list_val = F.sum(_dec("l_quantity") * _dec("p_retailprice"))
    actual = F.sum(_revenue())
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "p_type", year)
        .agg(
            actual.cast("double").alias("actual_revenue"),
            list_val.cast("double").alias("list_value"),
            (list_val - actual).cast("double").alias("discount_from_list"),
        )
    )


# =====================================================================
# Extension — leakage-safe dataset splitting (near-dup aware)
# =====================================================================

_SPLIT_CASE_SQL = (
    "CASE WHEN {b} < 8000 THEN 'train' WHEN {b} < 9000 THEN 'validation' "
    "ELSE 'test' END"
)


def _split_case(c) -> F.Column:
    """80/10/10 split label as a pure Column function of any key — the
    map-side twin of sampling.hash_split (same md5 buckets), usable on
    BOTH endpoints of a pair without joining the assignment back."""
    from ..operators.sampling import hash_bucket

    b = hash_bucket(c)
    return (
        F.when(b < 8000, F.lit("train"))
        .when(b < 9000, F.lit("validation"))
        .otherwise(F.lit("test"))
    )


@_q(
    "split_leakage_audit",
    f"""
WITH __p AS ({_lsh_verified_oracle(0.5)}),
__lab AS (
  SELECT {_SPLIT_CASE_SQL.format(b=_BUCKET_SQL.format(k='doc_a'))} AS sa,
         {_SPLIT_CASE_SQL.format(b=_BUCKET_SQL.format(k='doc_b'))} AS sb
  FROM __p)
SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
       count(*) AS n_pairs,
       (least(sa, sb) <> greatest(sa, sb)) AS is_leak
FROM __lab GROUP BY 1, 2
""",
    "Extension (training-data hygiene): eval-set contamination audit — every "
    "LSH-verified near-dup pair labeled with the 80/10/10 hash split of BOTH its "
    "members, counted per (split, split) cell; off-diagonal cells are train→eval "
    "leaks that naive per-document splitting produces.  The split label is a pure "
    "md5 function of the id, so both endpoints are labeled MAP-SIDE on the "
    "pair-set-sized relation (no join back to the corpus); shares the memoized "
    "session pair set.",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _doc_lsh_pairs(spark, sf_dir)
    sa, sb = _split_case(F.col("doc_a")), _split_case(F.col("doc_b"))
    return (
        pairs.select(
            F.least(sa, sb).alias("split_a"), F.greatest(sa, sb).alias("split_b")
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.col("split_a") != F.col("split_b")).alias("is_leak"),
        )
    )


@_q(
    "dataset_split_cluster_safe",
    f"""
WITH RECURSIVE __p AS ({_lsh_verified_oracle(0.5)}),
__e AS (SELECT doc_a AS s, doc_b AS d FROM __p
        UNION SELECT doc_b, doc_a FROM __p),
__r AS (SELECT s AS v, d AS w FROM __e
        UNION
        SELECT r.v, e.d FROM __r r JOIN __e e ON r.w = e.s),
__lbl AS (SELECT v AS doc_id, least(v, min(w)) AS canonical_id FROM __r GROUP BY v),
__map AS (SELECT d.doc_id, coalesce(l.canonical_id, d.doc_id) AS canonical_id
          FROM documents d LEFT JOIN __lbl l USING (doc_id))
SELECT {_SPLIT_CASE_SQL.format(b=_BUCKET_SQL.format(k='canonical_id'))} AS split,
       count(*) AS n_docs,
       count(DISTINCT canonical_id) AS n_clusters
FROM __map GROUP BY 1
""",
    "Extension (training-data hygiene): the LEAKAGE-SAFE split — every document is "
    "assigned by the md5 bucket of its near-dup CLUSTER representative, so an entire "
    "duplicate cluster lands in one split and the off-diagonal cells of "
    "split_leakage_audit are zero by construction (asserted in tests).  One map-side "
    "relabel over the memoized canonical mapping + one count shuffle; cluster ids "
    "stay stable as the corpus grows because the representative is the cluster-min "
    "doc_id.",
)
def dataset_split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = _doc_canonical_map(spark, sf_dir)
    return (
        canon.select(_split_case(F.col("canonical_id")).alias("split"), "canonical_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("canonical_id").alias("n_clusters"),
        )
    )


@_q(
    "pack_bpe_sequences",
    bpe_oracle_sql(_BPE_ROUNDS, _BPE_CORPUS_SQL)
    + f""",
__cw AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents WHERE text IS NOT NULL)
  WHERE word <> ''),
__dt AS (
  SELECT c.doc_id, CAST(sum(len(w.s)) AS BIGINT) AS n_tokens
  FROM __cw c JOIN __w{_BPE_ROUNDS} w USING (word) GROUP BY 1),
__all AS (
  SELECT d.doc_id, coalesce(t.n_tokens, 0) AS n_tokens
  FROM documents d LEFT JOIN __dt t USING (doc_id)),
__b AS (
  SELECT doc_id, n_tokens,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              ::VARCHAR::UBIGINT % 64 AS BIGINT) AS bucket
  FROM __all),
__c AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n_tokens AS before
  FROM __b)
SELECT doc_id, n_tokens, bucket,
       CAST(floor(before / 256) AS BIGINT) AS bin,
       CAST(before % 256 AS BIGINT) AS tok_offset
FROM __c
""",
    "Extension (training-data, composed end-to-end): sequence packing on EXACT BPE "
    "token counts — the trained tokenizer's per-word symbol counts broadcast onto the "
    "corpus word stream (the bpe_corpus_fertility apply pass), summed per document, "
    "then the same 64-bucket parallel greedy boundary packing as "
    "pack_training_sequences (operators/sampling.pack_by_weight).  Real pipelines pack "
    "on tokenizer-true lengths, not whitespace proxies; documents with no tokens pack "
    "at weight 0.  Shares the memoized training run.",
)
def pack_bpe_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import pack_by_weight

    docs = load_table(spark, sf_dir, "documents")
    _, final, _ = _bpe_final(spark, sf_dir)
    toks = final.select("word", F.size("s").alias("__n_sym"))
    counted = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .join(F.broadcast(toks), "word")
        .groupBy("doc_id")
        .agg(F.sum("__n_sym").alias("n_tokens"))
    )
    weighted = (
        docs.select("doc_id")
        .join(counted, "doc_id", "left_outer")
        .select("doc_id", F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"))
    )
    return pack_by_weight(
        weighted, id_col="doc_id", weight_col="n_tokens", target=256, buckets=64
    )


@_q(
    "bpe_training_curve",
    bpe_oracle_sql(_BPE_ROUNDS, _BPE_CORPUS_SQL)
    + "\n"
    + "\nUNION ALL\n".join(
        f"""SELECT {r} AS round,
       CAST(coalesce(sum(freq * len(s)), 0) AS BIGINT) AS total_tokens,
       CASE WHEN (SELECT sum(freq) FROM __w0) > 0
            THEN CAST(coalesce(sum(freq * len(s)), 0) AS DOUBLE)
                 / (SELECT sum(freq) FROM __w0) END AS avg_tokens_per_word
FROM __w{r}"""
        for r in range(0, _BPE_ROUNDS + 1)
    ),
    "Extension (tokenizer training): the compression curve — total corpus tokens and "
    "tokens-per-word after round 0 (character tokenization) through each learned merge; "
    "the metric that decides how many merges a vocabulary budget buys.  Each point is "
    "one vocab-scale scalar probe alongside training (carry-forward on early "
    "exhaustion, matching the oracle's carried CTEs); the word total rides a broadcast "
    "1-row aggregate.  Shares the memoized training run.",
)
def bpe_training_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, final, curve = _bpe_final(spark, sf_dir)
    tw = final.agg(F.sum("freq").alias("__tw"))
    return curve.crossJoin(F.broadcast(tw)).select(
        "round",
        "total_tokens",
        F.when(
            F.col("__tw") > 0, F.col("total_tokens").cast("double") / F.col("__tw")
        ).alias("avg_tokens_per_word"),
    )


@_q(
    "heavy_hitter_provinces",
    """
WITH __k AS (
  SELECT user_id % 25 AS province FROM events WHERE user_id IS NOT NULL)
SELECT province, count(*) AS cnt
FROM __k GROUP BY province
HAVING count(*) > 0.02 * (SELECT count(*) FROM __k)
""",
    "Extension (scale utility — Misra-Gries two-pass heavy hitters): provinces with "
    "more than 2% of events, EXACT counts.  Pass 1 keeps an O(k) mergeable "
    "Misra-Gries summary per partition (map-only, NO full-cardinality shuffle — the "
    "superset guarantee is the averaging pigeonhole over partitions); pass 2 "
    "semi-joins the fact table on the broadcast candidate set and recounts exactly, "
    "so approximation lives only in the pruning pass and the oracle is the plain "
    "GROUP BY ... HAVING.  The discovery primitive behind every salting decision "
    "(operators/skew.py); NULL keys excluded on both sides including from N.",
)
def heavy_hitter_provinces(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.heavy_hitters import heavy_hitters_exact

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.filter(F.col("user_id").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(25)).alias("province")
    )
    return heavy_hitters_exact(keyed, "province", threshold=0.02)


@_q(
    "events_kanonymity_report",
    """
WITH __q AS (
  SELECT user_id % 25 AS province,
         (CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS dow,
         event_type
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
__g AS (
  SELECT province, dow, count(*) AS n_rows,
         count(DISTINCT event_type) AS n_sensitive
  FROM __q GROUP BY 1, 2),
__tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM __g),
__k AS (SELECT unnest([2, 5, 25, 125]) AS k)
SELECT k.k,
       CAST(coalesce(sum(CASE WHEN g.n_rows < k.k THEN 1 END), 0) AS BIGINT)
         AS groups_below_k,
       CAST(coalesce(sum(CASE WHEN g.n_rows < k.k THEN g.n_rows END), 0) AS BIGINT)
         AS rows_at_risk,
       CASE WHEN t.total > 0
            THEN CAST(coalesce(sum(CASE WHEN g.n_rows < k.k THEN g.n_rows END), 0)
                      AS DOUBLE) / t.total END AS risk_share,
       CAST(coalesce(sum(CASE WHEN g.n_sensitive < 2 THEN 1 END), 0) AS BIGINT)
         AS low_diversity_groups
FROM __k k CROSS JOIN __tot t LEFT JOIN __g g ON true
GROUP BY k.k, t.total
""",
    "Extension (data governance, complements events_pii_scan): k-anonymity / "
    "l-diversity risk report over the (province, day-of-week) quasi-identifier with "
    "event_type as the sensitive attribute — for each re-identification threshold k: "
    "quasi-identifier groups smaller than k, rows they expose, their corpus share, "
    "and the l<2 low-diversity group count.  Two-phase: one QI-keyed count shuffle "
    "produces the GROUP-BOUNDED (|province|x|dow|) relation; the threshold sweep is a "
    "broadcast seed crossJoin over it, never the fact table.  Rows with NULL "
    "user_id/ts have no quasi-identity and are excluded on both engines (pinned "
    "contract); the dow is the calendar-free (days+4) mod 7.",
)
def events_kanonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    q = ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(25)).alias("province"),
        ((floor_div(F.col("ts").cast("long"), F.lit(86400)) + 4) % 7).alias("dow"),
        "event_type",
    )
    g = q.groupBy("province", "dow").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_type").alias("n_sensitive"),
    )
    tot = g.agg(F.sum("n_rows").alias("total"))
    ks = spark.createDataFrame([(2,), (5,), (25,), (125,)], "k int")
    below = F.sum(F.when(F.col("n_rows") < F.col("k"), 1)).cast("long")
    risk = F.sum(F.when(F.col("n_rows") < F.col("k"), F.col("n_rows"))).cast("long")
    lowdiv = F.sum(F.when(F.col("n_sensitive") < 2, 1)).cast("long")
    return (
        ks.crossJoin(F.broadcast(tot))
        .join(g, F.lit(True), "left_outer")
        .groupBy("k", "total")
        .agg(
            F.coalesce(below, F.lit(0)).alias("groups_below_k"),
            F.coalesce(risk, F.lit(0)).alias("rows_at_risk"),
            F.when(
                F.col("total") > 0,
                F.coalesce(risk, F.lit(0)).cast("double") / F.col("total"),
            ).alias("risk_share"),
            F.coalesce(lowdiv, F.lit(0)).alias("low_diversity_groups"),
        )
        .drop("total")
    )


def _token_budget_oracle() -> str:
    bpe_ctes = bpe_oracle_sql(_BPE_ROUNDS, _BPE_CORPUS_SQL)[len("WITH ") :]
    stop_list = ", ".join("'" + w + "'" for w in STOPWORDS)
    split_case = _SPLIT_CASE_SQL.format(b=_BUCKET_SQL.format(k="m.canonical_id"))
    return f"""
WITH RECURSIVE {bpe_ctes},
__qs AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '),
             w -> w IN ({stop_list}))) AS n_stop
  FROM documents),
__qok AS (
  SELECT doc_id, text FROM __qs
  WHERE n_words >= 5 AND n_words <= 1000
        AND n_stop * 1.0 / n_words <= 0.5
        AND (n_chars - (n_words - 1)) * 1.0 / n_words >= 2.0
        AND (n_chars - (n_words - 1)) * 1.0 / n_words <= 12.0),
__qkeep AS (SELECT min(doc_id) AS doc_id FROM __qok GROUP BY md5(text)),
__qsurv AS (SELECT o.doc_id, o.text FROM __qok o JOIN __qkeep USING (doc_id)),
__pr AS ({_lsh_verified_oracle(0.5)}),
__qe AS (SELECT doc_a AS s, doc_b AS d FROM __pr
         UNION SELECT doc_b, doc_a FROM __pr),
__qr AS (SELECT s AS v, d AS w FROM __qe
         UNION
         SELECT r.v, e.d FROM __qr r JOIN __qe e ON r.w = e.s),
__qlbl AS (SELECT v AS doc_id, least(v, min(w)) AS canonical_id FROM __qr GROUP BY v),
__qmap AS (SELECT d.doc_id, coalesce(l.canonical_id, d.doc_id) AS canonical_id
           FROM documents d LEFT JOIN __qlbl l USING (doc_id)),
__qlab AS (
  SELECT s.doc_id, s.text, {split_case} AS split
  FROM __qsurv s JOIN __qmap m USING (doc_id)),
__qcw AS (
  SELECT doc_id, split, word FROM (
    SELECT doc_id, split, unnest(string_split(text, ' ')) AS word FROM __qlab)
  WHERE word <> ''),
__qdt AS (
  SELECT c.doc_id, CAST(sum(len(w.s)) AS BIGINT) AS n_tokens
  FROM __qcw c JOIN __w{_BPE_ROUNDS} w USING (word) GROUP BY 1)
SELECT l.split, count(*) AS n_docs,
       CAST(coalesce(sum(t.n_tokens), 0) AS BIGINT) AS n_tokens
FROM __qlab l LEFT JOIN __qdt t USING (doc_id)
GROUP BY 1
"""


@_q(
    "corpus_token_budget",
    _token_budget_oracle(),
    "Extension (training-data capstone, composed end-to-end): the per-split TOKEN "
    "budget after the full preparation pipeline — quality filter (map-side predicate) "
    "-> exact dedup (one fingerprint shuffle) -> LEAKAGE-SAFE split by near-dup "
    "cluster representative (memoized canonical map, map-side relabel) -> exact BPE "
    "tokenization (trained vocab broadcast onto the word stream) -> per-split doc and "
    "token totals.  The number a pretraining run actually budgets against; every "
    "stage reuses the session-shared training/canonical frames and the only "
    "fact-scale shuffles are the dedup fingerprint and the per-doc token sum.",
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup
    from ..operators.text import quality_ok

    docs = load_table(spark, sf_dir, "documents")
    ok = docs.filter(quality_ok("text"))
    keep = exact_dedup(ok).select(F.col("keep_id").alias("doc_id"))
    surv = ok.join(keep, "doc_id").select("doc_id", "text")
    canon = _doc_canonical_map(spark, sf_dir)
    labeled = surv.join(canon, "doc_id").select(
        "doc_id", "text", _split_case(F.col("canonical_id")).alias("split")
    )
    _, final, _ = _bpe_final(spark, sf_dir)
    toks = final.select("word", F.size("s").alias("__n_sym"))
    per_doc = (
        labeled.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .join(F.broadcast(toks), "word")
        .groupBy("doc_id")
        .agg(F.sum("__n_sym").alias("n_tokens"))
    )
    return (
        labeled.select("doc_id", "split")
        .join(per_doc, "doc_id", "left_outer")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_tokens"),
        )
    )


@_q(
    "part_pair_rules",
    """
WITH __bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
__n AS (SELECT count(DISTINCT b) AS n FROM __bi),
__f AS (SELECT i, count(*) AS f FROM __bi GROUP BY i),
__p AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS support
        FROM __bi a JOIN __bi b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 3),
__st AS (SELECT item_a, item_b, support, fa.f AS fa, fb.f AS fb, n
         FROM __p JOIN __f fa ON fa.i = item_a
                 JOIN __f fb ON fb.i = item_b CROSS JOIN __n),
__r AS (
  SELECT item_a AS antecedent, item_b AS consequent, support,
         round(CAST(support AS DOUBLE) / fa, 6) AS confidence,
         round(CAST(support AS DOUBLE) * n / (fa * fb), 6) AS lift
  FROM __st
  UNION ALL
  SELECT item_b, item_a, support,
         round(CAST(support AS DOUBLE) / fb, 6),
         round(CAST(support AS DOUBLE) * n / (fa * fb), 6)
  FROM __st)
SELECT * FROM __r
ORDER BY confidence DESC, support DESC, antecedent, consequent LIMIT 100
""",
    "Extension (association rules, the directional layer over frequent_part_pairs): "
    "each co-order pair expands to both a->b and b->a with "
    "confidence = support/freq(antecedent) and the direction-free lift — the "
    "recommendation-rule surface.  The expansion is a map over the pair-level "
    "relation (two rows per pair), so the cost profile is identical to the pair "
    "miner; fully tiebroken top-100.",
)
def part_pair_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.itemsets import association_rules

    return association_rules(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", min_support=3
    )


@_q(
    "daily_revenue_decomposition",
    """
WITH __d AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
__t AS (
  SELECT day, cents, (day + 4) % 7 AS dow,
         CAST(SUM(cents) OVER w AS BIGINT) AS tsum,
         COUNT(*) OVER w AS cnt7
  FROM __d WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
__f AS (
  SELECT day, dow, cents, tsum, 7 * cents - tsum AS dc7
  FROM __t WHERE cnt7 = 7),
__s AS (
  SELECT dow, CAST(sum(dc7) AS BIGINT) AS sd, count(*) AS nd
  FROM __f GROUP BY 1)
SELECT f.day, f.dow, f.cents,
       round(CAST(f.tsum AS DOUBLE) / 700.0, 6) AS trend,
       round(CAST(s.sd AS DOUBLE) / (700.0 * s.nd), 6) AS seasonal,
       round(CAST(f.dc7 AS DOUBLE) / 700.0
             - CAST(s.sd AS DOUBLE) / (700.0 * s.nd), 6) AS residual
FROM __f f JOIN __s s USING (dow)
""",
    "Extension (classical time-series decomposition): daily order revenue split into "
    "trend (centered 7-day moving average, full-window-only), day-of-week seasonal "
    "(mean of the detrended series per dow), and residual.  Everything stays in "
    "EXACT integer cents scaled by 7 (detrended = 7*cents - window sum) until three "
    "final identically-expressed double divisions, so both engines agree bit-for-bit "
    "after the 6dp round.  The centered ±3-ROWS frame runs through "
    "centered_rows_agg (global_rank + offset-explode + keyed agg, round 6) — NO "
    "single-partition WindowExec even though the daily pre-aggregate is "
    "calendar-bounded; the dow-seasonal relation is 7 rows, joined broadcast.",
)
def daily_revenue_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import centered_rows_agg

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    d = o.groupBy(
        floor_div(F.col("o_orderdate").cast("long"), F.lit(86400)).alias("day")
    ).agg((F.sum(_dec("o_totalprice")) * 100).cast("long").alias("cents"))
    f = (
        centered_rows_agg(
            d,
            [F.col("day")],
            {"tsum": F.sum("cents"), "cnt7": F.count(F.lit(1))},
            preceding=3,
            following=3,
        )
        .filter(F.col("cnt7") == 7)
        .withColumn("dow", (F.col("day") + 4) % 7)
        .withColumn("dc7", 7 * F.col("cents") - F.col("tsum"))
    )
    season = f.groupBy("dow").agg(
        F.sum("dc7").alias("sd"), F.count(F.lit(1)).alias("nd")
    )
    seasonal_raw = F.col("sd").cast("double") / (F.lit(700.0) * F.col("nd"))
    return (
        f.join(F.broadcast(season), "dow")
        .select(
            "day",
            "dow",
            "cents",
            F.round(F.col("tsum").cast("double") / 700.0, 6).alias("trend"),
            F.round(seasonal_raw, 6).alias("seasonal"),
            F.round(
                F.col("dc7").cast("double") / 700.0 - seasonal_raw, 6
            ).alias("residual"),
        )
    )


@_q(
    "event_next_order_asof",
    """
WITH __r AS (
  SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts,
         max(o_orderkey) AS next_order_id
  FROM orders GROUP BY 1, 2),
__l AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS event_ts FROM events)
SELECT event_id, user_id, event_ts, next_order_id, order_ts AS next_order_ts
FROM (SELECT * FROM __l WHERE event_ts IS NOT NULL)
  ASOF LEFT JOIN __r ON user_id = o_custkey AND event_ts <= order_ts
UNION ALL
-- unstamped probes: NULL annotation (same carve-out as the backward
-- twin); an ASOF `<=` preserves left multiplicity where a QUALIFY
-- row_number over event_id would COLLAPSE duplicate ids (skew tier)
SELECT event_id, user_id, event_ts,
       CAST(NULL AS BIGINT) AS next_order_id, CAST(NULL AS BIGINT) AS next_order_ts
FROM __l WHERE event_ts IS NULL
""",
    "Extension (FORWARD as-of join — the mirror of event_last_order_asof): each event "
    "annotated with the user's next order at or after it, e.g. touch-to-conversion "
    "lead time.  Same union-tagged single-shuffle formulation walking time DESCENDING "
    "(operators/joins.as_of_join direction='forward'); unstamped events keep NULL "
    "annotations via the explicit NULL-timestamp payload mask.  The oracle is DuckDB's "
    "ASOF `<=` (left-multiplicity-preserving) with the NULL-probe carve-out, proving "
    "the propagation form equivalent.",
)
def event_next_order_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("long").alias("event_ts")
    )
    orders = load_table(spark, sf_dir, "orders")
    rt = orders.groupBy(
        F.col("o_custkey"), F.col("o_orderdate").cast("long").alias("next_order_ts")
    ).agg(F.max("o_orderkey").alias("next_order_id"))
    return as_of_join(
        ev,
        rt.withColumnRenamed("o_custkey", "user_id"),
        key="user_id",
        left_ts="event_ts",
        right_ts="next_order_ts",
        right_payload=["next_order_id", "next_order_ts"],
        direction="forward",
    )


# =====================================================================
# Stateful-streaming kernels, driver-hashable (round-6 verdict #7):
# each fn executes the applyInPandasWithState kernel to completion on a
# bounded file replay (availableNow) and returns the memory-sink table
# as an ordinary DataFrame — so the driver's oracle gate hashes output
# that really flowed through the streaming state store, not the batch
# twin.  Eager by contract (like the iterative dedup/k-means queries)
# and not memoized: each fn call replays (the keyed kernels run on the
# bucketed runtime of streaming/stateful.py, so a cold replay is cheap),
# and the replay's memory-sink view is dropped before fn returns.
#
# Replay domain (degenerate-tier contract, probed on all eight tiers):
# the stateful kernels process KEYED, STAMPED, kernel-representable
# events — NULL keys have no state row ("keyed pattern detection
# requires a key"), NULL timestamps belong to no run, events at or
# before epoch 0 die against Structured Streaming's initial watermark
# of 0 (probed: ws<0 windows never emit), and the Arrow->pandas
# transport bounds event times to the datetime64[ns] range (the year-
# 9999 DATE sentinel overflows the serializer).  Every replay therefore
# filters its stream input to that domain AND carries the SAME filter
# in its oracle — the replay pair stays exact on the NULL / extreme-
# timestamp / skew tiers, while the batch twins keep pinning the
# NULL-group semantics on unbounded-domain inputs.
# =====================================================================

#: Kernel-representable-and-on-time bounds, Spark + DuckDB twins.
_REPLAY_TS_MAX = 9_200_000_000  # < datetime64[ns] max (~9.22e9 s)
_REPLAY_TS_SQL = "epoch(ts) > 0 AND epoch(ts) < 9200000000"


def _replay_ts_ok(col: str = "ts") -> F.Column:
    e = F.col(col).cast("double")
    return F.col(col).isNotNull() & (e > 0) & (e < _REPLAY_TS_MAX)


@_q(
    "streaming_login_fail_replay",
    """
WITH __l AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER w AS prev_type,
         lag(ts) OVER w AS prev_ts
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND epoch(ts) > 0 AND epoch(ts) < 9200000000
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id,
       CAST(floor(epoch(prev_ts)) AS BIGINT) AS first_fail_ts,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_fail_ts,
       'login fail 2 times in a short time' AS warning_msg
FROM __l
WHERE event_type = 'error' AND prev_type = 'error'
  AND epoch(ts) - epoch(prev_ts) < 3600.0
""",
    "LoginFailTwo.scala:60-91 via the STREAMING kernel (F2/F3 state machine): bounded "
    "availableNow replay of events through streaming/stateful.streaming_login_fail "
    "(applyInPandasWithState, one-slot last-event state per user) — equivalence with the "
    "batch lag() oracle is the per-key-FIFO contract of the reference's ListState version. "
    "Oracle = login_fail_detect's SQL restricted to the replay domain (keyed, stamped, "
    "post-epoch, ns-representable — see the replay-domain note above).",
)
def streaming_login_fail_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import read_events_stream, run_bounded_df
    from ..streaming.stateful import streaming_login_fail

    stream = (
        read_events_stream(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & _replay_ts_ok())
        .select("user_id", "event_type", "ts", "event_id")
    )
    return run_bounded_df(streaming_login_fail(stream, max_gap_seconds=3600.0))


@_q(
    "streaming_blacklist_replay",
    """
WITH __e AS (SELECT user_id, event_id % 2 AS ad_id,
                    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) AS day, ts, event_id
             FROM events
             WHERE user_id IS NOT NULL AND ts IS NOT NULL
               AND event_id IS NOT NULL AND event_id >= 0
               AND epoch(ts) > 0 AND epoch(ts) < 9200000000),
__r AS (SELECT *, row_number() OVER (PARTITION BY user_id, ad_id, day ORDER BY ts, event_id) AS rn FROM __e)
SELECT user_id, ad_id, day, 'Click over 1 times today' AS warning_msg FROM __r WHERE rn = 2
""",
    "AdAnalysisByProvinceBlack.scala:69-109 via the STREAMING kernel (F1): bounded replay "
    "through streaming/stateful.streaming_blacklist — per-(user, ad) running count + sent "
    "flag in keyed state, event-time day rollover replacing the reference's midnight "
    "processing-time timer; first count past the threshold emits exactly one warning. "
    "Oracle = ad_blacklist_warnings' SQL restricted to the replay domain (keyed, stamped, "
    "post-epoch, ns-representable).",
)
def streaming_blacklist_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import read_events_stream, run_bounded_df
    from ..streaming.stateful import streaming_blacklist

    # event_id >= 0 keeps the derived ad_id key inside the replay
    # domain: a NULL event_id would put a NULL key in front of the
    # kernel, and pmod vs the oracle's signed % diverge on negative
    # ids ({0,1} vs {-1,0,1}) — both filtered on BOTH sides
    # (round-7 advice), matching the other replays' discipline.
    stream = (
        read_events_stream(spark, sf_dir)
        .where(
            F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & (F.col("event_id") >= 0)
            & _replay_ts_ok()
        )
        .select("user_id", F.pmod("event_id", F.lit(2)).alias("ad_id"), "ts")
    )
    return run_bounded_df(streaming_blacklist(stream, threshold=1))


@_q(
    "streaming_order_timeout_replay",
    """
WITH __oe0 AS (
  SELECT o_orderkey AS order_id, 'create' AS event_type, epoch(o_orderdate) AS tse FROM orders
  UNION ALL
  SELECT l_orderkey, 'pay', epoch(l_shipdate) FROM lineitem),
__oe AS (SELECT * FROM __oe0
         WHERE order_id IS NOT NULL AND tse IS NOT NULL
           AND tse > 0 AND tse < 9200000000),
__wm AS (SELECT max(tse) - 5.0 AS wm FROM __oe),
__a AS (
  SELECT order_id,
         min(CASE WHEN event_type = 'create' THEN tse END) AS create_d,
         min(CASE WHEN event_type = 'pay' THEN tse END) AS pay_d
  FROM __oe GROUP BY order_id)
SELECT order_id,
       CAST(floor(create_d) AS BIGINT) AS create_ts,
       CAST(floor(pay_d) AS BIGINT) AS pay_ts,
       CASE WHEN create_d IS NULL THEN 'already payed but not found created log'
            WHEN pay_d IS NULL THEN 'order timeout'
            WHEN pay_d - create_d < 2592000.0 THEN 'payed successfully'
            ELSE 'payed but already timeout' END AS status
FROM __a, __wm
WHERE (create_d IS NOT NULL AND pay_d IS NOT NULL)
   OR (pay_d IS NULL AND create_d + 2592000.0 < wm)
   OR (create_d IS NULL AND pay_d + 2592000.0 < wm)
""",
    "OrderTimeout.scala:58-143 via the STREAMING kernel (F5): bounded replay of the "
    "create/pay union through streaming/stateful.streaming_order_timeout — pairing emits "
    "on arrival; one-sided orders emit on the EventTimeTimeout timer, which the final "
    "no-data micro-batch fires for every deadline strictly below the closing watermark "
    "(max event time − the 5 s bounded-out-of-orderness delay).  The oracle is the batch "
    "4-case classification RESTRICTED to outcomes decided by end-of-replay — paired "
    "orders, plus one-sided orders whose anchor + 30 d deadline the watermark passed; "
    "undecided state (deadline ≥ watermark) stays in the store, exactly Flink's "
    "pending-timer semantics on a finite stream.",
)
def streaming_order_timeout_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import read_events_stream, run_bounded_df
    from ..streaming.stateful import streaming_order_timeout

    o_stream = read_events_stream(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.lit("create").alias("event_type"),
        F.col("o_orderdate").alias("ts"),
    )
    l_stream = read_events_stream(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_id"),
        F.lit("pay").alias("event_type"),
        F.col("l_shipdate").alias("ts"),
    )
    oe = (
        o_stream.unionByName(l_stream)
        .where(F.col("order_id").isNotNull() & _replay_ts_ok())
    )
    return run_bounded_df(
        streaming_order_timeout(oe, timeout_seconds=30 * DAY)
    )


@_q(
    "streaming_fail_burst_replay",
    """
WITH __o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END AS is_succ
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND epoch(ts) > 0 AND epoch(ts) < 9200000000),
__wm AS (SELECT max(epoch_ms(ts)) AS wm_ms FROM __o),
__ns AS (SELECT user_id, sum(is_succ) AS n_succ FROM __o GROUP BY 1),
__r AS (SELECT *, sum(is_succ) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS run_id
        FROM __o),
__f AS (SELECT user_id, run_id, epoch(ts) AS tse FROM __r WHERE is_succ = 0),
__a AS (SELECT user_id, run_id, min(tse) AS anchor FROM __f GROUP BY 1, 2),
__k AS (SELECT f.user_id, f.run_id, f.tse, a.anchor
        FROM __f f JOIN __a a USING (user_id, run_id)
        WHERE f.tse <= a.anchor + 3600.0)
SELECT k.user_id,
       CAST(floor(anchor) AS BIGINT) AS first_fail_ts,
       CAST(floor(max(tse)) AS BIGINT) AS last_fail_ts,
       count(*) AS n_fails,
       'login fail 2 times in 3600s' AS warning_msg
FROM __k k JOIN __ns n USING (user_id) CROSS JOIN __wm
GROUP BY k.user_id, k.run_id, anchor, n.n_succ, wm_ms
HAVING count(*) >= 2
   AND (n.n_succ > k.run_id
        OR CAST(floor((anchor + 3600.0) * 1000) AS BIGINT) < wm_ms)
""",
    "LoginFailOne.scala:62-106 via the STREAMING kernel (F2, the timer-buffer variant the "
    "reference exercises hardest): bounded replay through "
    "streaming/stateful.streaming_fail_burst — pending-fail buffer + event-time timer at "
    "anchor + window.  The oracle is the batch run-segmentation RESTRICTED to runs decided "
    "at end-of-replay: runs a later success flushed in-batch (n_succ > run_id — a purely "
    "ordinal condition, no timestamp-tie ambiguity), plus success-free trailing runs whose "
    "timer fired — Spark fires an event-time timer iff trunc((anchor+window)*1000) ms < "
    "the closing watermark (max event-time ms, 0 s delay), STRICTLY (probed empirically: "
    "wm == deadline does not fire), mirrored in exact ms arithmetic via epoch_ms.",
)
def streaming_fail_burst_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import read_events_stream, run_bounded_df
    from ..streaming.stateful import streaming_fail_burst

    stream = (
        read_events_stream(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & _replay_ts_ok())
        .select("user_id", "event_type", "ts", "event_id")
    )
    return run_bounded_df(
        streaming_fail_burst(stream, window_seconds=3600.0, min_fails=2)
    )


@_q(
    "streaming_dedup_replay",
    """
SELECT DISTINCT user_id, event_type FROM events
WHERE ts IS NOT NULL AND epoch(ts) > 0 AND epoch(ts) < 9200000000
""",
    "Extension (streaming ingest dedup, driver-hashable): bounded replay through "
    "streaming/jobs.streaming_dedup (native dropDuplicatesWithinWatermark — state "
    "evicted once the watermark passes a key's last-seen + horizon).  With the horizon "
    "(90 d) wider than the corpus span (30 d) no key re-emits, so the emitted key set "
    "IS the batch DISTINCT — the survivor ROW per key is arrival-order-dependent, so "
    "the query projects the key columns, which are deterministic.",
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import read_events_stream, run_bounded_df, streaming_dedup

    stream = (
        read_events_stream(spark, sf_dir)
        .where(_replay_ts_ok())
        .select("user_id", "event_type", "ts")
    )
    return run_bounded_df(
        streaming_dedup(stream, ["user_id", "event_type"], watermark="90 days")
    ).select("user_id", "event_type")


@_q(
    "streaming_pv_count_replay",
    f"""
SELECT * FROM ({_tumbling_sql(
        "SELECT epoch(ts) AS __tse FROM events WHERE event_type = 'view'", HOUR, ""
    )}) __t
WHERE we > 0
  AND we <= (SELECT max(epoch(ts)) FROM events WHERE event_type = 'view')
""",
    "PageView.scala:15-45 via the STREAMING aggregation (W5/A1, driver-hashable): bounded "
    "availableNow replay of the watermarked tumbling hourly pv count — append mode emits "
    "each window exactly once, after the watermark (max event time, 0 s delay) passes its "
    "end, so the oracle is the batch tumbling count RESTRICTED to closed windows "
    "(we <= max event time; the trailing open window stays in the state store, exactly a "
    "Flink window whose watermark never reached windowEnd) AND to non-late windows "
    "(we > 0 — aggregation lateness is on the WINDOW END vs the initial watermark of 0, "
    "probed on the extreme-timestamp tier: a ts=0 row's [0,1h) window survives, every "
    "pre-epoch-ending window is dropped).",
)
def streaming_pv_count_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import (
        read_events_stream,
        run_bounded_df,
        streaming_windowed_count,
    )

    stream = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    )
    return run_bounded_df(streaming_windowed_count(stream, size="1 hour"))


@_q(
    "streaming_session_replay",
    """
WITH __e0 AS (SELECT user_id, ts, event_id FROM events WHERE ts IS NOT NULL),
__e AS (
  -- duplicate collapse: see sessionize_users (tie-order hazard); the
  -- native session_window is value-based, so all duplicates share one
  -- session on BOTH sides
  SELECT user_id, ts, event_id, count(*) AS c FROM __e0 GROUP BY 1, 2, 3),
__wm AS (SELECT max(epoch(ts)) AS wm FROM __e),
__f AS (
  SELECT user_id, ts, event_id, c,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0 THEN 1 ELSE 0 END AS is_start
  FROM __e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
__g AS (
  SELECT user_id, ts, c,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM __f),
__s AS (SELECT user_id, min(epoch(ts)) AS s0, max(epoch(ts)) AS s1,
               CAST(sum(c) AS BIGINT) AS n_events
        FROM __g GROUP BY user_id, session_id)
SELECT user_id,
       CAST(floor(s0) AS BIGINT) AS session_start,
       CAST(floor(s1) AS BIGINT) AS session_end,
       n_events
FROM __s CROSS JOIN __wm
WHERE s1 + 1800.0 <= wm AND s1 + 1800.0 > 0
""",
    "Extension (native merging session windows, driver-hashable): bounded availableNow "
    "replay of streaming/jobs.streaming_session_window (F.session_window state-store "
    "merging, 30-min gap) — append mode emits a session once the watermark (max event "
    "time, 0 s delay) reaches its window end = last event + gap, so the oracle is the "
    "batch gaps-and-islands sessionization RESTRICTED to closed sessions "
    "(last_ts + gap <= wm, inclusive like the closed-window rule) and to non-late ones "
    "(window end past the initial watermark of 0); the trailing open session per key "
    "stays in the state store, exactly a Flink merging session window awaiting its gap "
    "timeout.",
)
def streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import (
        read_events_stream,
        run_bounded_df,
        streaming_session_window,
    )

    stream = read_events_stream(spark, sf_dir).select("user_id", "ts")
    return run_bounded_df(
        streaming_session_window(stream, gap="30 minutes")
    )


@_q(
    "streaming_cep_replay",
    """
WITH __ev AS (
  SELECT user_id, event_type, event_id, ts FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL
    AND epoch(ts) > 0 AND epoch(ts) < 9200000000),
__p AS (
  SELECT user_id, event_type, event_id, epoch(ts) AS tse,
         min(CASE WHEN event_type = 'purchase' THEN epoch(ts) END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
  FROM __ev),
__c AS (
  SELECT user_id, event_type, tse, np,
         min(CASE WHEN event_type = 'click' AND np IS NOT NULL THEN tse END) OVER w AS t2,
         min(CASE WHEN event_type = 'click' THEN np END) OVER w AS t3
  FROM __p
  WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
__err AS (SELECT user_id, epoch(ts) AS tse FROM __ev WHERE event_type = 'error')
SELECT user_id AS key,
       CAST(floor(tse) AS BIGINT) AS step1_ts,
       CAST(floor(t2) AS BIGINT) AS step2_ts,
       CAST(floor(t3) AS BIGINT) AS step3_ts
FROM __c c
WHERE event_type = 'view' AND t3 IS NOT NULL AND t3 - tse < 3600.0
  AND NOT EXISTS (SELECT 1 FROM __err e
                  WHERE e.user_id = c.user_id AND e.tse > c.t2 AND e.tse < c.t3)
UNION ALL
SELECT user_id AS key,
       CAST(floor(tse) AS BIGINT) AS step1_ts,
       CAST(NULL AS BIGINT) AS step2_ts,
       CAST(floor(np) AS BIGINT) AS step3_ts
FROM __c c
WHERE event_type = 'view' AND np IS NOT NULL AND np - tse < 3600.0
  AND NOT EXISTS (SELECT 1 FROM __err e
                  WHERE e.user_id = c.user_id AND e.tse > c.tse AND e.tse < c.np)
""",
    "Extension (the streaming CEP NFA, driver-hashable — round-7 verdict #5): bounded "
    "replay of the guarded-optional funnel begin(view).followedBy(click).optional()"
    ".notFollowedBy(error).followedBy(purchase).within(1h) through streaming/cep.py "
    "match_pattern_stream — ONE keyed applyInPandasWithState NFA carrying both optional-"
    "expansion variants' chains with online mid-gap kill marks.  No trailing negation in "
    "this spec, so completions emit immediately (watermark-independent).  Oracle = "
    "pattern_guarded_optional_funnel's SQL restricted to the replay domain (keyed, "
    "tiebreak-bearing, stamped, post-epoch, ns-representable) with user_id AS key.",
)
def streaming_cep_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cep import PatternStep
    from ..streaming.cep import match_pattern_stream
    from ..streaming.jobs import read_events_stream, run_bounded_df

    stream = (
        read_events_stream(spark, sf_dir)
        .where(
            F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & _replay_ts_ok()
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    steps = [
        PatternStep(F.col("event_type") == "view"),
        PatternStep(F.col("event_type") == "click", optional=True),
        PatternStep(F.col("event_type") == "error", negated=True),
        PatternStep(F.col("event_type") == "purchase"),
    ]
    return run_bounded_df(
        match_pattern_stream(
            stream, "user_id", "ts", steps, 3600.0, tiebreak_col="event_id"
        )
    )


@_q(
    "streaming_cep_negation_replay",
    """
WITH __ev AS (SELECT user_id, event_type, ts FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND epoch(ts) > 0 AND epoch(ts) < 9200000000),
__wm AS (SELECT max(epoch_ms(ts)) AS wm_ms FROM __ev),
__v AS (SELECT user_id, epoch(ts) AS tse FROM __ev WHERE event_type = 'view'),
__p AS (SELECT user_id, epoch(ts) AS tse FROM __ev WHERE event_type = 'purchase')
SELECT v.user_id AS key, CAST(floor(v.tse) AS BIGINT) AS step1_ts
FROM __v v CROSS JOIN __wm
WHERE NOT EXISTS (SELECT 1 FROM __p p
                  WHERE p.user_id = v.user_id
                    AND p.tse > v.tse AND p.tse < v.tse + 900.0)
  AND CAST(floor((v.tse + 900.0) * 1000) AS BIGINT) < wm_ms
""",
    "Extension (the CEP NFA's TRAILING-negation / event-time-timer path, driver-hashable "
    "— the companion of streaming_cep_replay, which only exercises the NoTimeout "
    "immediate-emission path): begin(view).notFollowedBy(purchase).within(15min) through "
    "streaming/cep.match_pattern_stream — completed anchors PARK in keyed state, a later "
    "purchase with view_ts < p_ts < view_ts + 900 kills them online, and survivors flush "
    "only when the watermark passes their deadline (EventTimeTimeout).  Oracle = the "
    "batch NOT-EXISTS restricted to the replay domain AND to timer-decided anchors — "
    "Spark fires an event-time timer iff trunc(deadline*1000) ms < the closing watermark "
    "ms, STRICTLY (the empirically-probed streaming_fail_burst_replay rule; undecided "
    "anchors stay parked, exactly Flink's pending-timer semantics on a finite stream).",
)
def streaming_cep_negation_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cep import PatternStep
    from ..streaming.cep import match_pattern_stream
    from ..streaming.jobs import read_events_stream, run_bounded_df

    stream = (
        read_events_stream(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & _replay_ts_ok())
        .select("user_id", "event_type", "ts")
    )
    steps = [
        PatternStep(F.col("event_type") == "view"),
        PatternStep(F.col("event_type") == "purchase", negated=True),
    ]
    return run_bounded_df(
        match_pattern_stream(stream, "user_id", "ts", steps, 900.0)
    )


@_q(
    "streaming_last_touch_replay",
    """
WITH __e AS (
  SELECT user_id, ts, event_id, event_type, value, epoch(ts) AS tse
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL
    AND epoch(ts) > 0 AND epoch(ts) < 9200000000),
__t AS (
  SELECT *,
         max(CASE WHEN event_type <> 'purchase' OR event_type IS NULL
                  THEN struct_pack(tse := tse, event_id := event_id, event_type := event_type) END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM __e)
SELECT user_id,
       CAST(floor(tse) AS BIGINT) AS purchase_ts,
       CASE WHEN touch IS NOT NULL AND tse - touch.tse <= 604800.0
            THEN touch.event_type END AS touch_type,
       CASE WHEN isnan(value) THEN NULL ELSE value END AS value
FROM __t WHERE event_type = 'purchase'
""",
    "Extension (realtime last-touch attribution, driver-hashable — round-7 verdict #5): "
    "bounded replay through streaming/stateful.streaming_last_touch — exactly ONE "
    "(ts, type) pair of state per user; each purchase emits its freshest preceding "
    "non-purchase touch within 7 days (NULL when stale/absent).  Oracle = "
    "last_touch_attribution's per-purchase front half (running struct-max window) "
    "restricted to the replay domain; NaN purchase values surface as NULL on both "
    "sides (pandas NaN-is-NA vs SQL NaN-is-a-value pinned explicitly).",
)
def streaming_last_touch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import read_events_stream, run_bounded_df
    from ..streaming.stateful import streaming_last_touch

    stream = (
        read_events_stream(spark, sf_dir)
        .where(
            F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & _replay_ts_ok()
        )
        .select("user_id", "ts", "event_type", "value", "event_id")
    )
    return run_bounded_df(streaming_last_touch(stream))


@_q(
    "streaming_asof_replay",
    """
WITH __r AS (
  SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts,
         max(o_orderkey) AS last_order_id
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderkey IS NOT NULL
    AND o_orderdate IS NOT NULL
    AND epoch(o_orderdate) > 0 AND epoch(o_orderdate) < 9200000000
  GROUP BY 1, 2),
__l AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS event_ts
        FROM events
        WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL
          AND epoch(ts) > 0 AND epoch(ts) < 9200000000)
SELECT user_id, event_ts, event_id, last_order_id, order_ts AS last_order_ts
FROM __l ASOF LEFT JOIN __r ON user_id = o_custkey AND event_ts >= order_ts
""",
    "Extension (the streaming as-of enrich kernel, driver-hashable — round-7 verdict "
    "#5): each event annotated with the user's most recent order at-or-before it, via "
    "streaming/stateful.streaming_as_of_enrich on a union-tagged two-source replay "
    "(orders = reference side, events = probe side; the J2 connect pattern).  The "
    "reference side is the (custkey, orderdate)->max(orderkey) pre-aggregation "
    "materialized once to session scratch so right-side ties are resolved "
    "deterministically BEFORE the stream (the batch query's exact build relation).  "
    "Keyed state holds one (ts, payload) slot; right-at-equal-ts visibility matches "
    "the batch ASOF (event_ts >= order_ts, integer order times).  Oracle = "
    "event_last_order_asof's ASOF SQL restricted to the replay domain (the NULL-probe "
    "union branch is vacuous there).",
)
def streaming_asof_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import read_events_stream, run_bounded_df
    from ..streaming.stateful import streaming_as_of_enrich

    import os

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull()
        & F.col("o_orderkey").isNotNull()
        & _replay_ts_ok("o_orderdate")
    )
    rt = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
    ).agg(F.max("o_orderkey").alias("last_order_id"))
    scratch = os.path.join(
        "/tmp/spark_graft_replay_inputs",
        os.path.basename(os.path.normpath(sf_dir)),
        "orders_asof",
    )
    # coalesce(1) is a REPLAY-scale choice, not the operator's scale
    # posture: one file -> one availableNow micro-batch -> the
    # kernel's in-batch (ts, __tag) sort supplies the global time
    # order a production feed gets from per-key Kafka log order.
    # At fact scale the kernel itself needs no single file — state
    # is one slot per key and input partitions by the group key.
    rt.coalesce(1).write.mode("overwrite").parquet(scratch)
    r_stream = (
        spark.readStream.schema(rt.schema)
        .parquet(scratch)
        .selectExpr(
            "user_id",
            "ts",
            "CAST(0 AS INT) __tag",
            "CAST(NULL AS LONG) event_id",
            "last_order_id",
            "CAST(ts AS LONG) last_order_ts",
        )
    )
    l_stream = (
        read_events_stream(spark, sf_dir)
        .where(
            F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & _replay_ts_ok()
        )
        .selectExpr(
            "user_id",
            "ts",
            "CAST(1 AS INT) __tag",
            "event_id",
            "CAST(NULL AS LONG) last_order_id",
            "CAST(NULL AS LONG) last_order_ts",
        )
    )
    out = streaming_as_of_enrich(
        r_stream.unionByName(l_stream),
        key="user_id",
        payload_cols=("last_order_id", "last_order_ts"),
        left_cols=("event_id",),
    )
    # the heaviest replay (two fact-scale sources through one
    # kernel): 45 s at sf1, ~8 min at sf10 — the default 300 s
    # fail-loud guard binds before the kernel does
    return run_bounded_df(out, timeout=1800).withColumnRenamed("ts", "event_ts")


# --------------------------------------------------------------------
# Round 8 (continued): in-engine model training + mixing extensions
# --------------------------------------------------------------------


def _perceptron_ctes(rounds: int = 3) -> str:
    """Shared DuckDB CTE prefix replaying ``classifier.perceptron_curve``
    on the documents quality task: integer features, integer updates —
    every round's weights and error counts are bit-identical to the
    Spark training loop (the same engine-exactness argument as the
    k-means / PageRank / BPE oracles, with no rounding needed at all
    because the math never leaves int64).  Defines __f (doc_id, x1..x3,
    y), per-round aggregates __a0..__a{rounds} and weight states
    __w0..__w{rounds}."""
    stop_list = ", ".join("'" + w + "'" for w in STOPWORDS)
    mis = "(y * (w0 + w1*x1 + w2*x2 + w3*x3) <= 0)"
    ctes = f"""
WITH __f0 AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS x1,
         length(text) AS x2,
         len(list_filter(string_split(text, ' '), w -> w IN ({stop_list}))) AS x3
  FROM documents WHERE text IS NOT NULL),
__f AS (
  SELECT doc_id, x1, x2, x3,
         CASE WHEN x1 >= 5 AND x1 <= 1000
                   AND x3 * 1.0 / x1 <= 0.5
                   AND (x2 - (x1 - 1)) * 1.0 / x1 >= 2.0
                   AND (x2 - (x1 - 1)) * 1.0 / x1 <= 12.0
              THEN 1 ELSE -1 END AS y
  FROM __f0),
__w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"""
    for r in range(rounds + 1):
        ctes += f""",
__a{r} AS (SELECT count(*) AS n_tot,
  count(*) FILTER (WHERE {mis}) AS n_err,
  coalesce(sum(y)      FILTER (WHERE {mis}), 0) AS u0,
  coalesce(sum(y * x1) FILTER (WHERE {mis}), 0) AS u1,
  coalesce(sum(y * x2) FILTER (WHERE {mis}), 0) AS u2,
  coalesce(sum(y * x3) FILTER (WHERE {mis}), 0) AS u3
  FROM __f CROSS JOIN __w{r})"""
        if r < rounds:
            ctes += f""",
__w{r + 1} AS (SELECT CAST(w0 + u0 AS BIGINT) AS w0, CAST(w1 + u1 AS BIGINT) AS w1,
                      CAST(w2 + u2 AS BIGINT) AS w2, CAST(w3 + u3 AS BIGINT) AS w3
               FROM __w{r} CROSS JOIN __a{r})"""
    return ctes


def _perceptron_oracle(rounds: int = 3) -> str:
    """Training-curve view over :func:`_perceptron_ctes`."""
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS round, CAST(n_err AS BIGINT) AS n_errors, "
        f"CAST(n_tot AS BIGINT) AS n_total, "
        f"CASE WHEN n_tot > 0 THEN round(n_err * 1.0 / n_tot, 6) END AS error_rate "
        f"FROM __a{r}"
        for r in range(rounds + 1)
    ]
    return _perceptron_ctes(rounds) + "\n" + "\nUNION ALL\n".join(selects)


def _perceptron_shared(spark: SparkSession, sf_dir: str):
    """Train the quality perceptron ONCE per (session, sf_dir) — the
    curve and flags queries share the memoized (curve, weights) pair
    (the memo stores plain python values; cache._release tolerates
    non-frames).  Training is eager by contract, like
    ``duplicate_components``."""
    from ..operators.classifier import perceptron_curve
    from ..operators.text import _quality_signals, quality_ok

    def build():
        docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
        n_words, n_chars, n_stop, _, _ = _quality_signals("text")
        feats = docs.select(
            n_words.cast("long").alias("x1"),
            n_chars.cast("long").alias("x2"),
            n_stop.cast("long").alias("x3"),
            F.when(quality_ok("text"), F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("y"),
        )
        return perceptron_curve(feats, ["x1", "x2", "x3"], "y", rounds=3)

    return _cached_canon(spark, sf_dir, "perceptron_quality_3r", build)


@_q(
    "quality_perceptron_curve",
    _perceptron_oracle(3),
    "Extension (iterative algorithm #5: in-engine model TRAINING): a batch perceptron "
    "learns the rule-based quality gate from integer text features (n_words, n_chars, "
    "n_stopwords + bias) — 3 training rounds, each ONE partial-aggregated pass over a "
    "checkpointed map-only feature frame collecting d+2 longs; weights are int64 so the "
    "whole curve is bit-identical in any engine/partitioning and the oracle replays "
    "training round by round.  Emits (round, n_errors, n_total, error_rate) for rounds "
    "0..3 — the convergence curve of the learned FastText-style quality filter.",
)
def quality_perceptron_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import curve_frame

    curve, _w = _perceptron_shared(spark, sf_dir)
    return curve_frame(spark, curve)


@_q(
    "quality_perceptron_flags",
    _perceptron_ctes(3)
    + """
SELECT doc_id, CAST(y AS BIGINT) AS label,
       CAST(CASE WHEN (w0 + w1*x1 + w2*x2 + w3*x3) > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
       CAST(CASE WHEN (CASE WHEN (w0 + w1*x1 + w2*x2 + w3*x3) > 0 THEN 1 ELSE -1 END) <> y
                 THEN 1 ELSE 0 END AS INT) AS is_error
FROM __f CROSS JOIN __w3
""",
    "Extension (the APPLY half of in-engine training — train offline, score online): "
    "every document scored by the trained perceptron's final int64 weights as a pure "
    "map-side projection (the weights ride the plan as literals, like bpe apply's "
    "frozen merge folds — the same projection works unchanged on a streaming frame); "
    "emits per-doc rule label, model prediction and disagreement flag.  Shares the "
    "memoized training run with quality_perceptron_curve.",
)
def quality_perceptron_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import score_expr
    from ..operators.text import _quality_signals, quality_ok

    _curve, w = _perceptron_shared(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    n_words, n_chars, n_stop, _, _ = _quality_signals("text")
    y = F.when(quality_ok("text"), F.lit(1)).otherwise(F.lit(-1)).cast("long")
    pred = score_expr(
        w, [n_words.cast("long"), n_chars.cast("long"), n_stop.cast("long")]
    )
    return docs.select(
        "doc_id",
        y.alias("label"),
        pred.alias("pred"),
        (pred != y).cast("int").alias("is_error"),
    )


@_q(
    "corpus_temperature_mix",
    """
WITH __c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
__s AS (SELECT lang, n_docs,
               CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS sd
        FROM __c),
__t AS (SELECT sum(n_docs) AS tot, sum(sd) AS tsd FROM __s)
SELECT lang, n_docs,
       round(CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
       round(CAST(sd AS DOUBLE) / CAST(tsd AS DOUBLE), 6) AS temp_weight,
       round((CAST(sd AS DOUBLE) / CAST(tsd AS DOUBLE))
             / (CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE)), 6) AS boost
FROM __s CROSS JOIN __t
""",
    "Extension (multilingual training-mix design): temperature-smoothed per-language "
    "sampling weights, p_l proportional to n_l^0.5 (the mBERT/XLM-R alpha-sampling "
    "recipe at T=0.5) — sqrt is the one power IEEE specifies as correctly rounded, so "
    "the smoothing is engine-exact with no transcendental in sight; smoothed values fix "
    "to 6 dp micro-units before the groups-sized BIGINT normalizer sum.  One group-by "
    "shuffle, then 1-row broadcast totals; boost > 1 marks upsampled tail languages.",
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temperature_mix

    return temperature_mix(load_table(spark, sf_dir, "documents"), "lang")


@_q(
    "dedup_prefix_jaccard",
    f"""
WITH {_SHINGLE_CTE},
__df AS (SELECT sh, count(*) AS dfq FROM __sh GROUP BY sh),
__sz AS (SELECT doc_id, count(*) AS sz FROM __sh GROUP BY doc_id),
__rk AS (SELECT s.doc_id, s.sh,
                row_number() OVER (PARTITION BY s.doc_id ORDER BY d.dfq, s.sh) AS rn
         FROM __sh s JOIN __df d USING (sh)),
__pref AS (SELECT r.doc_id, r.sh, z.sz
           FROM __rk r JOIN __sz z USING (doc_id)
           WHERE r.rn <= z.sz - CAST(ceil(0.75 * z.sz) AS BIGINT) + 1),
__cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM __pref a JOIN __pref b ON a.sh = b.sh AND a.doc_id < b.doc_id
           WHERE least(a.sz, b.sz) >= 0.75 * greatest(a.sz, b.sz)),
__com AS (SELECT c.doc_a, c.doc_b, count(*) AS common
          FROM __cand c
          JOIN __sh x ON x.doc_id = c.doc_a
          JOIN __sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
          GROUP BY 1, 2)
SELECT m.doc_a, m.doc_b,
       m.common * 1.0 / (za.sz + zb.sz - m.common) AS jaccard
FROM __com m JOIN __sz za ON m.doc_a = za.doc_id JOIN __sz zb ON m.doc_b = zb.doc_id
WHERE m.common * 1.0 / (za.sz + zb.sz - m.common) >= 0.75
""",
    "Extension (exact set-similarity join at scale): prefix-filtered shingle Jaccard "
    "(Chaudhuri/Xiao ppjoin family) at threshold 0.75 — candidates come from a self-join "
    "of each doc's RAREST sz-ceil(t*sz)+1 shingles under one global (df, shingle) order "
    "plus a length filter, both implied by J>=t, so recall is PROVABLY complete with no "
    "df-cap compromise; verification is candidate-bounded array_intersect over per-doc "
    "sorted shingle arrays (never a second token-level self-join).",
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.75
    )


@_q(
    "dedup_threshold_sweep",
    f"""
WITH {_SHINGLE_CTE},
__rare AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM __sh GROUP BY sh)
           WHERE df <= 64),
__shf AS (SELECT s.doc_id, s.sh FROM __sh s JOIN __rare USING (sh)),
__sz AS (SELECT doc_id, count(*) AS sz FROM __shf GROUP BY doc_id),
__c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM __shf a JOIN __shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
__j AS (SELECT doc_a, doc_b,
               common * 1.0 / (x.sz + y.sz - common) AS jac
        FROM __c JOIN __sz x ON doc_a = x.doc_id JOIN __sz y ON doc_b = y.doc_id),
__t AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold),
__p AS (SELECT t.threshold, j.doc_a, j.doc_b FROM __t t JOIN __j j ON j.jac >= t.threshold),
__d AS (SELECT threshold, doc_a AS doc FROM __p UNION SELECT threshold, doc_b FROM __p)
SELECT p.threshold, p.n_pairs, d.n_docs_flagged
FROM (SELECT threshold, count(*) AS n_pairs FROM __p GROUP BY threshold) p
JOIN (SELECT threshold, count(*) AS n_docs_flagged FROM __d GROUP BY threshold) d
  USING (threshold)
""",
    "Extension (dedup tuning report): near-duplicate pair count and flagged-doc count "
    "as a function of the Jaccard threshold (0.5..0.9) — the curve an operator reads "
    "before picking a dedup cutoff.  One broadcast seed join over the session-shared "
    "pair-intersection relation (df<=64-capped, memoized): the sweep costs five "
    "filter+count passes over a pair-set-sized cached frame, never a second shingle "
    "self-join.",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = _doc_pair_intersections(spark, sf_dir)
    jac = inter.select(
        "doc_a",
        "doc_b",
        (F.col("common") / (F.col("sza") + F.col("szb") - F.col("common"))).alias("jac"),
    )
    th = spark.createDataFrame([(t,) for t in (0.5, 0.6, 0.7, 0.8, 0.9)], "threshold double")
    p = jac.join(F.broadcast(th), F.col("jac") >= F.col("threshold"))
    pairs = p.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    docs = (
        p.select("threshold", F.explode(F.array("doc_a", "doc_b")).alias("doc"))
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).alias("n_docs_flagged"))
    )
    return pairs.join(docs, "threshold")


@_q(
    "item_cooccurrence_similarity",
    """
WITH __ui AS (
  SELECT DISTINCT user_id AS u, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS i
  FROM events
  WHERE user_id IS NOT NULL AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
__cap AS (
  SELECT u, i FROM (
    SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY md5(CAST(i AS VARCHAR)), i) AS rn
    FROM __ui)
  WHERE rn <= 200),
__f AS (SELECT i, count(*) AS n FROM __cap GROUP BY i),
__b AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_both
        FROM __cap a JOIN __cap b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2
        HAVING count(*) >= 3)
SELECT b.item_a, b.item_b, b.n_both, fa.n AS n_a, fb.n AS n_b,
       b.n_both / sqrt(CAST(fa.n * fb.n AS DOUBLE)) AS cos_sim
FROM __b b JOIN __f fa ON b.item_a = fa.i JOIN __f fb ON b.item_b = fb.i
""",
    "Extension (item-based collaborative filtering — the reference's own EC domain): "
    "item-to-item co-occurrence cosine over distinct (user, item-prop) interactions "
    "(Linden et al. item2item CF) — the user-keyed pair explosion is bounded by a "
    "deterministic md5-rank per-user activity cap (sum of min(|items_u|, cap)^2, never "
    "corpus-quadratic; counts taken post-cap so the cosine stays consistent); sqrt of "
    "the exact int64 product is IEEE-exact in both engines.",
)
def item_cooccurrence_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.itemsets import cooccurrence_similarity
    from ..functions.scalar import props_field

    ev = load_table(spark, sf_dir, "events").select(
        # try_cast: a malformed props value must become a NULL interaction
        # (dropped by the operator), never an ANSI cast error
        "user_id", props_field("props", "k").try_cast("long").alias("item")
    )
    return cooccurrence_similarity(ev, "user_id", "item", min_support=3, activity_cap=200)


@_q(
    "events_temporal_split_audit",
    """
WITH __e AS (SELECT event_id, user_id, ts FROM events
             WHERE ts IS NOT NULL AND event_id IS NOT NULL),
__d AS (SELECT user_id,
               CASE WHEN ntile(10) OVER (ORDER BY ts, event_id) <= 9
                    THEN 'train' ELSE 'eval' END AS split
        FROM __e),
__s AS (SELECT split, count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM __d GROUP BY split),
__u AS (SELECT DISTINCT split, user_id FROM __d WHERE user_id IS NOT NULL),
__x AS (SELECT a.split, count(*) AS users_in_both
        FROM __u a JOIN __u b ON a.user_id = b.user_id AND a.split <> b.split
        GROUP BY a.split)
SELECT s.split, s.n_events, s.n_users,
       CAST(coalesce(x.users_in_both, 0) AS BIGINT) AS users_in_both,
       CASE WHEN s.n_users > 0
            THEN round(coalesce(x.users_in_both, 0) * 1.0 / s.n_users, 6) END AS overlap_share
FROM __s s LEFT JOIN __x x USING (split)
""",
    "Extension (temporal train/eval splitting — the leakage-safe split for TIME-ordered "
    "data, where a hash split would train on the future): the first 9 exact time-deciles "
    "are train, the last is eval, computed by the distributed global_ntile over a total "
    "(ts, event_id) order — NO single-partition window at any event count; reports "
    "per-split volumes plus the cross-split user overlap (users present in both = "
    "user-level memorization risk a user-keyed model must handle).",
)
def events_temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_ntile

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .select("event_id", "user_id", "ts")
    )
    d = global_ntile(ev, [F.col("ts"), F.col("event_id")], 10, bucket_col="__b").select(
        "user_id",
        F.when(F.col("__b") <= 9, F.lit("train")).otherwise(F.lit("eval")).alias("split"),
    )
    s = d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    u = d.where(F.col("user_id").isNotNull()).select("split", "user_id").distinct()
    a, b = u.alias("a"), u.alias("b")
    x = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.split") != F.col("b.split")),
        )
        .groupBy(F.col("a.split").alias("split"))
        .agg(F.count(F.lit(1)).alias("users_in_both"))
    )
    return s.join(x, "split", "left").select(
        "split",
        "n_events",
        "n_users",
        F.coalesce(F.col("users_in_both"), F.lit(0)).cast("long").alias("users_in_both"),
        F.when(
            F.col("n_users") > 0,
            F.round(
                F.coalesce(F.col("users_in_both"), F.lit(0)).cast("double")
                / F.col("n_users").cast("double"),
                6,
            ),
        ).alias("overlap_share"),
    )


@_q(
    "streaming_funnel_replay",
    """
WITH __e AS (
  SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
         epoch(ts) AS tse
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND epoch(ts) > 0 AND epoch(ts) < 9200000000),
__s1 AS (SELECT user_id, day, min(tse) AS t0 FROM __e
         WHERE event_type = 'view' GROUP BY 1, 2),
__s2 AS (SELECT e.user_id, e.day, min(e.tse) AS t1
         FROM __e e JOIN __s1 s USING (user_id, day)
         WHERE e.event_type = 'click' AND e.tse > s.t0 GROUP BY 1, 2),
__s3 AS (SELECT e.user_id, e.day, min(e.tse) AS t2
         FROM __e e JOIN __s2 s USING (user_id, day)
         WHERE e.event_type = 'purchase' AND e.tse > s.t1 GROUP BY 1, 2)
SELECT user_id, day, CAST(1 AS INT) AS step, CAST(floor(t0) AS BIGINT) AS step_ts FROM __s1
UNION ALL
SELECT user_id, day, CAST(2 AS INT), CAST(floor(t1) AS BIGINT) FROM __s2
UNION ALL
SELECT user_id, day, CAST(3 AS INT), CAST(floor(t2) AS BIGINT) FROM __s3
""",
    "Extension (the streaming funnel kernel, driver-hashable — extends the round-7/8 "
    "replay pattern to the last pytest-only kernel family): bounded replay through "
    "streaming/stateful.streaming_funnel — (user, day)-keyed state of three first-touch "
    "anchor slots, one row per step advancement.  The greedy take-if-unclaimed-and-"
    "strictly-later transition on a time-ordered replay selects exactly the batch "
    "conditional-min chain (anchor VALUES are tie-order-free: a min is a min), so the "
    "oracle is funnel_daily_conversion's per-(user, day) anchor front half restricted "
    "to the replay domain — full-precision epoch comparisons, floor only at emission, "
    "matching the kernel's float math.",
)
def streaming_funnel_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import read_events_stream, run_bounded_df
    from ..streaming.stateful import streaming_funnel

    stream = (
        read_events_stream(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & _replay_ts_ok())
        .select("user_id", "ts", "event_type")
    )
    # (user, day)-keyed groups make this the widest-keyed replay:
    # 172 s at sf1 — the default 300 s fail-loud guard would bind
    # at sf10, so scale the bound like the as-of replay does
    return run_bounded_df(streaming_funnel(stream), timeout=1800)


@_q(
    "streaming_one_or_more_replay",
    """
WITH __r AS (
  SELECT user_id, ts, event_id, event_type,
         sum(CASE WHEN event_type = 'view' THEN 0 ELSE 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS seg
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL
    AND epoch(ts) > 0 AND epoch(ts) < 9200000000),
__runs AS (SELECT user_id, seg + 1 AS seg, count(*) AS n_views, min(ts) AS first_a
           FROM __r WHERE event_type = 'view' GROUP BY user_id, seg),
__b AS (SELECT user_id, seg, ts AS b_ts FROM __r WHERE event_type = 'purchase')
SELECT b.user_id, CAST(floor(epoch(r.first_a)) AS BIGINT) AS first_view_ts,
       CAST(floor(epoch(b.b_ts)) AS BIGINT) AS purchase_ts, r.n_views
FROM __b b JOIN __runs r ON r.user_id = b.user_id AND r.seg = b.seg
WHERE epoch(b.b_ts) <= epoch(r.first_a) + 86400.0
""",
    "Extension (the CEP looping-quantifier kernel, driver-hashable): bounded replay "
    "through streaming/stateful.streaming_one_or_more — oneOrMore().consecutive()"
    ".greedy().next() as literally TWO numbers of state per key (trailing-run length + "
    "first timestamp); each purchase with a live view-run inside 1 day emits once and "
    "ends the run.  Oracle = pattern_view_burst_purchase's segment-id run restatement "
    "restricted to the replay domain; emitted values are tie-order-free under the "
    "(ts, event_id) total order both engines sort by.",
)
def streaming_one_or_more_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import read_events_stream, run_bounded_df
    from ..streaming.stateful import streaming_one_or_more

    stream = (
        read_events_stream(spark, sf_dir)
        .where(
            F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & _replay_ts_ok()
        )
        .select("user_id", "ts", "event_type", "event_id")
    )
    out = streaming_one_or_more(
        stream,
        key_col="user_id",
        ts_col="ts",
        a_pred=F.col("event_type") == "view",
        b_pred=F.col("event_type") == "purchase",
        within_seconds=86400.0,
        tiebreak_col="event_id",
    )
    return run_bounded_df(out).select(
        F.col("key").alias("user_id"),
        F.col("first_a_ts").alias("first_view_ts"),
        F.col("b_ts").alias("purchase_ts"),
        F.col("n_a").alias("n_views"),
    )


@_q(
    "streaming_value_spike_replay",
    """
WITH __l AS (
  SELECT user_id, event_id, value, ts,
         lag(value) OVER w AS prev_value,
         lag(ts) OVER w AS prev_ts
  FROM events
  WHERE (value IS NULL OR isfinite(value))
    AND user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL
    AND epoch(ts) > 0 AND epoch(ts) < 9200000000
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, CAST(floor(epoch(prev_ts)) AS BIGINT) AS prev_ts,
       CAST(floor(epoch(ts)) AS BIGINT) AS spike_ts,
       CAST(prev_value AS DOUBLE) AS prev_value, CAST(value AS DOUBLE) AS spike_value
FROM __l
WHERE prev_value IS NOT NULL AND value >= 2 * prev_value
  AND epoch(ts) - epoch(prev_ts) <= 3600.0
""",
    "Extension (the IterativeCondition kernel, driver-hashable): bounded replay through "
    "streaming/stateful.streaming_value_spike — ONE (ts, value) pair of state per user, "
    "each event whose value at least doubles its predecessor within 1 h emits once.  "
    "Oracle = pattern_value_spike's lag-window restatement restricted to the replay "
    "domain; non-finite measures are excluded BEFORE pairing on both sides so run "
    "adjacency agrees (a NULL value flows through both as a never-matching base).",
)
def streaming_value_spike_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import read_events_stream, run_bounded_df
    from ..streaming.stateful import streaming_value_spike

    stream = (
        read_events_stream(spark, sf_dir)
        .where(
            _finite_or_null("value")
            & F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & _replay_ts_ok()
        )
        .select("user_id", "ts", "value", "event_id")
    )
    out = streaming_value_spike(stream)
    return run_bounded_df(out).select(
        F.col("key").alias("user_id"),
        "prev_ts",
        "spike_ts",
        "prev_value",
        "spike_value",
    )


@_q(
    "streaming_pattern_sequence_replay",
    """
WITH __e AS (
  SELECT user_id, event_type, event_id, ts
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL AND ts IS NOT NULL
    AND epoch(ts) > 0 AND epoch(ts) < 9200000000),
__p AS (
  SELECT user_id, event_type, event_id, epoch(ts) AS tse,
         min(CASE WHEN event_type = 'purchase' THEN epoch(ts) END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
  FROM __e),
__c AS (
  SELECT user_id, event_type, tse,
         min(CASE WHEN event_type = 'click' AND np IS NOT NULL THEN tse END) OVER w AS t2,
         min(CASE WHEN event_type = 'click' THEN np END) OVER w AS t3
  FROM __p
  WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT user_id,
       CAST(floor(tse) AS BIGINT) AS step1_ts,
       CAST(floor(t2) AS BIGINT) AS step2_ts,
       CAST(floor(t3) AS BIGINT) AS step3_ts
FROM __c
WHERE event_type = 'view' AND t3 IS NOT NULL AND t3 - tse < 86400.0
""",
    "Extension (the N-step keyed NFA, driver-hashable): bounded replay through "
    "streaming/cep.match_pattern_stream — 3-step view→click→purchase chains "
    "per user within 24 h, relaxed contiguity; state = the active partial chains, "
    "pruned per event once any completion is out of window.  Greedy first-match "
    "advancement equals the batch lexicographically-earliest chain under uniform "
    "relaxed contiguity (chain monotonicity), so the oracle is pattern_funnel_3step's "
    "scalar reverse-window restatement restricted to the replay domain.",
)
def streaming_pattern_sequence_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cep import PatternStep
    from ..streaming.cep import match_pattern_stream
    from ..streaming.jobs import read_events_stream, run_bounded_df

    stream = (
        read_events_stream(spark, sf_dir)
        .where(
            F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
            & _replay_ts_ok()
        )
        .select("user_id", "ts", "event_type", "event_id")
    )
    steps = [
        PatternStep(F.col("event_type") == "view"),
        PatternStep(F.col("event_type") == "click"),
        PatternStep(F.col("event_type") == "purchase"),
    ]
    out = match_pattern_stream(
        stream, "user_id", "ts", steps, 86400.0, tiebreak_col="event_id"
    )
    return run_bounded_df(out).select(
        F.col("key").alias("user_id"), "step1_ts", "step2_ts", "step3_ts"
    )


@_q(
    "streaming_not_followed_by_replay",
    """
WITH __ev AS (SELECT user_id, event_type, ts FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND epoch(ts) > 0 AND epoch(ts) < 9200000000),
__wm AS (SELECT max(epoch_ms(ts)) AS wm_ms FROM __ev),
__f AS (SELECT user_id, epoch(ts) AS tse FROM __ev WHERE event_type = 'click'),
__k AS (SELECT user_id, epoch(ts) AS tse FROM __ev WHERE event_type = 'error'),
__nk AS (SELECT f.user_id, f.tse FROM __f f
         WHERE NOT EXISTS (SELECT 1 FROM __k k
                           WHERE k.user_id = f.user_id
                             AND k.tse > f.tse AND k.tse < f.tse + 1800.0)),
__fire AS (SELECT user_id, min(CAST(floor((tse + 1800.0) * 1000) AS BIGINT)) AS min_dl
           FROM __nk GROUP BY user_id)
SELECT n.user_id AS key, CAST(floor(n.tse) AS BIGINT) AS first_ts
FROM __nk n JOIN __fire g USING (user_id) CROSS JOIN __wm
WHERE g.min_dl < wm_ms
  AND n.tse + 1800.0 <= CAST(wm_ms AS DOUBLE) / 1000.0
""",
    "Extension (CEP negation decided by watermarked keyed state — the stored-killer "
    "companion of streaming_cep_negation_replay): clicks with NO error "
    "within 30 min through streaming/cep.match_pattern_stream([click, ~error]) — "
    "completed anchors park in keyed state, errors kill them online and, stored while "
    "above the watermark, kill later-arriving anchors on insert; survivors flush on the "
    "EventTimeTimeout timer.  The oracle encodes the kernel's exact two-part flush rule "
    "on a bounded replay: the key's timer (min unkilled deadline, ms-floored) must fire "
    "STRICTLY below the closing watermark, and each survivor needs tse + within <= wm "
    "(float64, the kernel's own comparison) — the ms-exact-boundary anchor in a group "
    "whose earlier pending fired is the one case the per-anchor strict rule alone would "
    "miss.",
)
def streaming_not_followed_by_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cep import PatternStep
    from ..streaming.cep import match_pattern_stream
    from ..streaming.jobs import read_events_stream, run_bounded_df

    stream = (
        read_events_stream(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & _replay_ts_ok())
        .select("user_id", "ts", "event_type")
    )
    steps = [
        PatternStep(F.col("event_type") == "click"),
        PatternStep(F.col("event_type") == "error", negated=True),
    ]
    out = match_pattern_stream(stream, "user_id", "ts", steps, 1800.0)
    return run_bounded_df(out).select("key", F.col("step1_ts").alias("first_ts"))


# =====================================================================
# Round 9 — corpus-quality / contamination / canonicalization additions
# =====================================================================

from ..operators.text import (  # noqa: E402
    GOPHER_MAX_BULLET_LINE_FRAC,
    GOPHER_MAX_ELLIPSIS_LINE_FRAC,
    GOPHER_MAX_MEAN_WORD_LEN,
    GOPHER_MAX_SYMBOL_RATIO,
    GOPHER_MAX_TOP_UNIGRAM_FRAC,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA_WORD_FRAC,
    GOPHER_MIN_MEAN_WORD_LEN,
    GOPHER_MIN_STOPWORDS,
    GOPHER_MIN_WORDS,
    STOPWORDS,
    bigram_surprisal,
    gopher_rules,
)

_GOPHER_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@_q(
    "doc_quality_gopher_rules",
    f"""
WITH __w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents WHERE text IS NOT NULL),
__pw AS (SELECT doc_id, w, count(*) AS k FROM __w GROUP BY 1, 2),
__ws AS (SELECT doc_id,
                CAST(sum(k) AS BIGINT) AS n_words,
                CAST(sum(length(w) * k) AS BIGINT) AS n_word_chars,
                CAST(sum(CASE WHEN regexp_matches(w, '[a-zA-Z]') THEN k ELSE 0 END) AS BIGINT) AS n_alpha_words,
                CAST(sum(CASE WHEN w IN ({_GOPHER_STOP_SQL}) THEN k ELSE 0 END) AS BIGINT) AS n_stopwords,
                CAST(max(k) AS BIGINT) AS top_unigram_k
         FROM __pw GROUP BY doc_id),
__cs AS (SELECT doc_id,
                (length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '...', ''))) / 3 AS n_symbols,
                len(string_split(text, chr(10))) AS n_lines,
                len(list_filter(string_split(text, chr(10)),
                    l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %')) AS n_bullet_lines,
                len(list_filter(string_split(text, chr(10)),
                    l -> l LIKE '%...' OR l LIKE '%…')) AS n_ellipsis_lines
         FROM documents WHERE text IS NOT NULL),
__j AS (SELECT w.*, c.n_symbols, c.n_lines, c.n_bullet_lines, c.n_ellipsis_lines
        FROM __ws w JOIN __cs c USING (doc_id))
SELECT doc_id, n_words,
       round(n_word_chars / n_words, 6) AS mean_word_len,
       n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS} AS rule_word_count,
       n_word_chars / n_words >= {GOPHER_MIN_MEAN_WORD_LEN!r}
         AND n_word_chars / n_words <= {GOPHER_MAX_MEAN_WORD_LEN!r} AS rule_mean_word_len,
       n_symbols / n_words <= {GOPHER_MAX_SYMBOL_RATIO!r} AS rule_symbol_ratio,
       n_alpha_words / n_words >= {GOPHER_MIN_ALPHA_WORD_FRAC!r} AS rule_alpha_words,
       n_stopwords >= {GOPHER_MIN_STOPWORDS} AS rule_stopwords,
       n_bullet_lines / n_lines <= {GOPHER_MAX_BULLET_LINE_FRAC!r} AS rule_bullet_lines,
       n_ellipsis_lines / n_lines <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC!r} AS rule_ellipsis_lines,
       top_unigram_k / n_words <= {GOPHER_MAX_TOP_UNIGRAM_FRAC!r} AS rule_top_unigram,
       CAST((CASE WHEN n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS} THEN 0 ELSE 1 END)
          + (CASE WHEN n_word_chars / n_words >= {GOPHER_MIN_MEAN_WORD_LEN!r}
                   AND n_word_chars / n_words <= {GOPHER_MAX_MEAN_WORD_LEN!r} THEN 0 ELSE 1 END)
          + (CASE WHEN n_symbols / n_words <= {GOPHER_MAX_SYMBOL_RATIO!r} THEN 0 ELSE 1 END)
          + (CASE WHEN n_alpha_words / n_words >= {GOPHER_MIN_ALPHA_WORD_FRAC!r} THEN 0 ELSE 1 END)
          + (CASE WHEN n_stopwords >= {GOPHER_MIN_STOPWORDS} THEN 0 ELSE 1 END)
          + (CASE WHEN n_bullet_lines / n_lines <= {GOPHER_MAX_BULLET_LINE_FRAC!r} THEN 0 ELSE 1 END)
          + (CASE WHEN n_ellipsis_lines / n_lines <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC!r} THEN 0 ELSE 1 END)
          + (CASE WHEN top_unigram_k / n_words <= {GOPHER_MAX_TOP_UNIGRAM_FRAC!r} THEN 0 ELSE 1 END)
         AS BIGINT) AS n_rules_failed,
       CASE WHEN (CASE WHEN n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS} THEN 0 ELSE 1 END)
          + (CASE WHEN n_word_chars / n_words >= {GOPHER_MIN_MEAN_WORD_LEN!r}
                   AND n_word_chars / n_words <= {GOPHER_MAX_MEAN_WORD_LEN!r} THEN 0 ELSE 1 END)
          + (CASE WHEN n_symbols / n_words <= {GOPHER_MAX_SYMBOL_RATIO!r} THEN 0 ELSE 1 END)
          + (CASE WHEN n_alpha_words / n_words >= {GOPHER_MIN_ALPHA_WORD_FRAC!r} THEN 0 ELSE 1 END)
          + (CASE WHEN n_stopwords >= {GOPHER_MIN_STOPWORDS} THEN 0 ELSE 1 END)
          + (CASE WHEN n_bullet_lines / n_lines <= {GOPHER_MAX_BULLET_LINE_FRAC!r} THEN 0 ELSE 1 END)
          + (CASE WHEN n_ellipsis_lines / n_lines <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC!r} THEN 0 ELSE 1 END)
          + (CASE WHEN top_unigram_k / n_words <= {GOPHER_MAX_TOP_UNIGRAM_FRAC!r} THEN 0 ELSE 1 END)
         = 0 THEN 'keep' ELSE 'drop' END AS verdict
FROM __j
""",
    "Extension (round 9, quality filtering): the Gopher rule battery (Rae et al. 2021 "
    "Table A1, public) — word-count / mean-word-length / symbol-ratio / alphabetic-word / "
    "stopword / bullet-line / ellipsis-line / top-unigram rules as per-doc booleans + "
    "failure count + keep verdict.  Word stats from ONE explode → (doc,word) count → "
    "per-doc aggregate (linear, map-side combined — never the O(n²) per-row array scan); "
    "char/line signals map-side; one doc-keyed join.  All ratios exact rationals.",
)
def doc_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_rules(load_table(spark, sf_dir, "documents"))


from ..operators.dedup import paragraph_dedup_stats  # noqa: E402


@_q(
    "docs_paragraph_dedup",
    """
WITH __d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
             FROM documents WHERE text IS NOT NULL),
__p AS (SELECT doc_id,
               md5(array_to_string(list_slice(ws, j * 25 + 1, j * 25 + 25), ' ')) AS fp
        FROM __d, unnest(range(0, CAST(ceil(len(ws) / 25.0) AS BIGINT))) AS t(j)
        WHERE len(ws) >= 1),
__c AS (SELECT fp, count(*) AS n_occ FROM __p GROUP BY fp),
__pd AS (SELECT p.doc_id,
                CAST(count(*) AS BIGINT) AS n_paragraphs,
                CAST(sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         FROM __p p JOIN __c c USING (fp) GROUP BY p.doc_id)
SELECT doc_id, n_paragraphs, n_dup AS n_dup_paragraphs,
       round(n_dup / n_paragraphs, 6) AS dup_ratio,
       CASE WHEN n_dup / n_paragraphs <= 0.6 THEN 'keep' ELSE 'drop' END AS verdict
FROM __pd
""",
    "Extension (round 9, paragraph dedup): RefinedWeb/MassiveText line-dedup shape — "
    "fingerprint every 25-word paragraph block (the synthetic corpus has no newlines; "
    "on crawl text the same operator takes the newline split), count corpus-wide "
    "repeats, flag docs over 60% boilerplate.  Two shuffles at any scale: one md5-keyed "
    "paragraph count, one doc-keyed join back (operators/dedup.py paragraph_dedup_stats).",
)
def docs_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup_stats(load_table(spark, sf_dir, "documents"))


from ..operators.dedup import contamination_report  # noqa: E402


@_q(
    "corpus_contamination_ngram_overlap",
    f"""
WITH __d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws,
                    {_BUCKET_SQL.format(k='doc_id')} AS b
             FROM documents WHERE text IS NOT NULL),
__g AS (SELECT DISTINCT doc_id, b, array_to_string(list_slice(ws, i, i + 7), ' ') AS g
        FROM __d, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
__eg AS (SELECT doc_id, g FROM __g WHERE b < 500),
__tg AS (SELECT doc_id AS tid, g FROM __g WHERE b >= 500),
__tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM __eg GROUP BY 1),
__hit AS (SELECT e.doc_id,
                 CAST(count(DISTINCT e.g) AS BIGINT) AS n_hit_grams,
                 CAST(count(DISTINCT t.tid) AS BIGINT) AS n_train_docs
          FROM __eg e JOIN __tg t USING (g) GROUP BY 1)
SELECT t.doc_id, t.n_grams,
       coalesce(h.n_hit_grams, 0) AS n_hit_grams,
       coalesce(h.n_train_docs, 0) AS n_train_docs,
       round(coalesce(h.n_hit_grams, 0) / t.n_grams, 6) AS hit_share,
       coalesce(h.n_hit_grams, 0) / t.n_grams > 0.1 AS contaminated
FROM __tot t LEFT JOIN __hit h USING (doc_id)
""",
    "Extension (round 9, decontamination): EVAL-centric 8-gram contamination report — "
    "the reverse direction of corpus_decontaminate (which attributes leakage to train "
    "docs): for every doc in the 5% hash-held-out eval slice, how many of its distinct "
    "word 8-grams appear anywhere in the train slice and in how many train docs; clean "
    "eval docs survive via the left join with zero counts.  The gram-keyed join is THE "
    "shuffle and is key-parallel (operators/dedup.py contamination_report).",
)
def corpus_contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id")
    return contamination_report(
        docs.filter(b >= 500), docs.filter(b < 500), n=8, min_hit_share=0.1
    )


from ..operators.sampling import reservoir_sample  # noqa: E402


@_q(
    "reservoir_sample_documents",
    """
WITH __p AS (SELECT doc_id, source, lang, md5(CAST(doc_id AS VARCHAR)) AS priority
             FROM documents ORDER BY priority, doc_id LIMIT 100)
SELECT doc_id, source, lang, priority,
       CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT) AS rk
FROM __p
""",
    "Extension (round 9, sampling): fixed-k=100 uniform corpus reservoir — bottom-k by "
    "(md5(key), key) priority, the distributed deterministic form of Algorithm A-Res "
    "(fixed priorities make partial per-partition reservoirs merge associatively; "
    "Catalyst compiles to TakeOrderedAndProject — per-task k-row heaps, no global "
    "sort).  The emitted priority makes re-runs over a grown corpus auditable: a key's "
    "priority never changes, the sample evolves only by displacement "
    "(operators/sampling.py reservoir_sample).",
)
def reservoir_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return reservoir_sample(docs, "doc_id", k=100, carry=("source", "lang"))


@_q(
    "domain_quality_mix_report",
    f"""
WITH __b AS (
  SELECT source, lang,
         coalesce(len(list_filter(string_split(text, ' '), w -> w <> '')), 0) AS n_tokens,
         CASE WHEN len(string_split(text, ' ')) >= 5 AND len(string_split(text, ' ')) <= 1000
                   AND len(list_filter(string_split(text, ' '),
                       w -> w IN ({_GOPHER_STOP_SQL}))) * 1.0 / len(string_split(text, ' ')) <= 0.5
                   AND (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                       / len(string_split(text, ' ')) >= 2.0
                   AND (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                       / len(string_split(text, ' ')) <= 12.0
              THEN 1 ELSE 0 END AS q_ok
  FROM documents),
__s AS (SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(q_ok) AS BIGINT) AS n_quality,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM __b GROUP BY source),
__t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM __s)
SELECT s.source, s.n_docs, s.n_tokens, s.n_langs,
       round(CAST(s.n_tokens AS DOUBLE) / t.tot_tokens, 6) AS token_share,
       round(CAST(s.n_quality AS DOUBLE) / s.n_docs, 6) AS quality_rate,
       round(CAST(s.n_tokens AS DOUBLE) / s.n_docs, 6) AS avg_tokens
FROM __s s CROSS JOIN __t t
""",
    "Extension (round 9, training-mix curation): per-source corpus mix report — doc / "
    "token counts, corpus token share, quality-keep rate (the text_quality predicate, "
    "operators/text.quality_ok), language diversity, mean doc length.  One source-keyed "
    "aggregate plus a broadcast single-row total; the upstream signals are map-side.",
)
def domain_quality_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_ok

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.coalesce(
        F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != "")).cast("long"),
        F.lit(0).cast("long"),
    )
    base = docs.select(
        "source",
        "lang",
        n_tokens.alias("n_tokens"),
        F.when(quality_ok("text"), 1).otherwise(0).alias("q_ok"),
    )
    per_src = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("q_ok").cast("long").alias("n_quality"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    tot = per_src.agg(F.sum("n_tokens").cast("long").alias("tot_tokens"))
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "n_langs",
        F.round(F.col("n_tokens").cast("double") / F.col("tot_tokens"), 6).alias("token_share"),
        F.round(F.col("n_quality").cast("double") / F.col("n_docs"), 6).alias("quality_rate"),
        F.round(F.col("n_tokens").cast("double") / F.col("n_docs"), 6).alias("avg_tokens"),
    )


#: Shared DuckDB CTE block for the bigram-LM scorers: tokenized docs,
#: the min-count vocabulary remap (tokens with corpus count < 2 collapse
#: to '<unk>' — the model bound, round-9 verdict #2), the remapped
#: doc-bigram counts (__dbg) and the model relation (__m).  Twin of
#: operators/text._remapped_doc_bigrams + the model groupBy.
_BIGRAM_MODEL_CTES = """
WITH __d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
             FROM documents WHERE text IS NOT NULL),
__kv AS (SELECT w FROM (SELECT w, count(*) AS c FROM __d, unnest(ws) AS t(w) GROUP BY 1)
         WHERE c >= 2),
__bg AS (SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur
         FROM __d, unnest(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2),
__dbg0 AS (SELECT doc_id, prev, cur, count(*) AS k FROM __bg GROUP BY 1, 2, 3),
__dbg AS (SELECT doc_id,
                 CASE WHEN kp.w IS NOT NULL THEN d.prev ELSE '<unk>' END AS prev,
                 CASE WHEN kc.w IS NOT NULL THEN d.cur ELSE '<unk>' END AS cur,
                 CAST(sum(k) AS BIGINT) AS k
          FROM __dbg0 d LEFT JOIN __kv kp ON d.prev = kp.w
                        LEFT JOIN __kv kc ON d.cur = kc.w
          GROUP BY 1, 2, 3),
__m AS (SELECT prev, cur, CAST(sum(k) AS BIGINT) AS c_bg FROM __dbg GROUP BY 1, 2)"""


def _ngram_perplexity_oracle() -> str:
    """DuckDB twin of bigram_surprisal: the shared remapped model CTEs,
    then TWO generated Q12 fixed-point log2 chains over the model
    relation (functions/fixedpoint.log2_q12_sql_ctes)."""
    from ..functions.fixedpoint import ONE_Q12, log2_q12_sql_ctes

    num_chain = log2_q12_sql_ctes("__mn", ["prev", "cur", "den", "num"], "num", "lg_num", "__ln")
    den_chain = log2_q12_sql_ctes("__lnf", ["prev", "cur", "lg_num"], "den", "lg_den", "__ld")
    return f"""
{_BIGRAM_MODEL_CTES},
__cx AS (SELECT prev, CAST(sum(c_bg) AS BIGINT) AS c_ctx FROM __m GROUP BY 1),
__v AS (SELECT CAST(count(DISTINCT cur) AS BIGINT) AS v FROM __m),
__mn AS (SELECT m.prev, m.cur, m.c_bg + 1 AS num, c.c_ctx + v.v AS den
         FROM __m m JOIN __cx c USING (prev) CROSS JOIN __v v),
{num_chain},
{den_chain},
__sp AS (SELECT prev, cur, lg_den - lg_num AS surprisal_q12 FROM __ldf),
__sc AS (SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_bigrams,
                CAST(sum(d.k * s.surprisal_q12) AS BIGINT) AS s_q12
         FROM __dbg d JOIN __sp s USING (prev, cur) GROUP BY 1)
SELECT doc_id, n_bigrams,
       round(CAST(s_q12 AS DOUBLE) / n_bigrams / {float(ONE_Q12)!r}, 6) AS avg_surprisal_bits,
       CASE WHEN round(CAST(s_q12 AS DOUBLE) / n_bigrams / {float(ONE_Q12)!r}, 6) < 6.0 THEN 'head'
            WHEN round(CAST(s_q12 AS DOUBLE) / n_bigrams / {float(ONE_Q12)!r}, 6) < 9.0 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM __sc
"""


@_q(
    "token_ngram_perplexity",
    _ngram_perplexity_oracle(),
    "Extension (round 9, LM quality scoring): per-doc add-one-smoothed bigram-LM "
    "surprisal (the CCNet perplexity-bucketing signal) with EXACT cross-engine "
    "arithmetic — log2 computed in Q28→Q12 fixed-point integer square-and-shift "
    "(functions/fixedpoint.py; DuckDB ln/exp are NOT bit-identical to JVM libm, "
    "measured 218/5000 ULP mismatches, so transcendentals stay banned).  Round 10 "
    "(round-9 verdict #2): tokens below min_count=2 corpus occurrences remap to "
    "<unk> before the model is built — the standard LM vocabulary cut that BOUNDS "
    "the (prev,cur) model relation on a hapax-heavy crawl; unigram counts derive "
    "from the already-shuffled doc-bigram relation plus a one-row-per-doc finals "
    "scan, never a second corpus explode.  The log2 chains and context counts run "
    "on the MODEL relation (distinct-remapped-bigram-sized), never the token "
    "stream; one (prev,cur)-keyed join scores the stream "
    "(operators/text.bigram_surprisal).",
)
def token_ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_surprisal(load_table(spark, sf_dir, "documents"))


from ..operators.dedup import url_dedup_groups  # noqa: E402

#: Deterministic synthetic URL per document (the corpus carries no URL
#: column — FIXTURES.md surrogate convention, like CHANNEL_CASE): four
#: consecutive doc_ids share a page id, and scheme case / host case /
#: default port / doubled slashes / trailing slash / utm params /
#: fragment vary by residue — exactly the variant families a crawl
#: canonicalizer must collapse.  Same expression text on both engines.
_URL_SYNTH_SQL = (
    "CASE WHEN {k} % 2 = 0 THEN 'http://' ELSE 'HTTPS://' END || "
    "CASE WHEN {k} % 3 = 0 THEN 'Example.COM' ELSE 'example.com' END || "
    "CASE WHEN {k} % 5 = 0 THEN ':80' ELSE '' END || "
    "CASE WHEN {k} % 7 = 0 THEN '//docs//' ELSE '/docs/' END || "
    "CAST({d4} AS {str_t}) || "
    "CASE WHEN {k} % 2 = 0 THEN '/' ELSE '' END || "
    "CASE WHEN {k} % 3 = 0 THEN '?utm_source=feed&page=' || CAST({d4} AS {str_t}) "
    "     WHEN {k} % 3 = 1 THEN '?page=' || CAST({d4} AS {str_t}) "
    "     ELSE '?page=' || CAST({d4} AS {str_t}) || '&utm_campaign=x' END || "
    "CASE WHEN {k} % 4 = 0 THEN '#sec' ELSE '' END"
)


@_q(
    "dedup_url_canonical",
    f"""
WITH __u AS (
  SELECT doc_id,
         {_URL_SYNTH_SQL.format(k='doc_id', d4='doc_id // 4', str_t='VARCHAR')} AS url
  FROM documents),
__c AS (
  SELECT doc_id, url,
         lower(regexp_replace(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''),
               '^[Hh][Tt][Tt][Pp][Ss]?://', ''), '^([^/?]+)', 1), ':(80|443)$', ''))
         ||
         regexp_replace(regexp_replace(regexp_replace(
               regexp_extract(regexp_replace(regexp_replace(regexp_replace(url, '#.*$', ''),
                 '^[Hh][Tt][Tt][Pp][Ss]?://', ''), '^[^/?]+', ''), '^([^?]*)', 1),
               '/{{2,}}', '/', 'g'), '/$', ''), '', '')
         ||
         CASE WHEN array_to_string(list_sort(list_filter(string_split(
                  regexp_extract(regexp_replace(regexp_replace(regexp_replace(url, '#.*$', ''),
                    '^[Hh][Tt][Tt][Pp][Ss]?://', ''), '^[^/?]+', ''), '\\?(.*)$', 1), '&'),
                  p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') <> ''
              THEN '?' || array_to_string(list_sort(list_filter(string_split(
                  regexp_extract(regexp_replace(regexp_replace(regexp_replace(url, '#.*$', ''),
                    '^[Hh][Tt][Tt][Pp][Ss]?://', ''), '^[^/?]+', ''), '\\?(.*)$', 1), '&'),
                  p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')
              ELSE '' END AS canon
  FROM __u)
SELECT canon, CAST(count(*) AS BIGINT) AS n_variants,
       CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw,
       CAST(min(doc_id) AS BIGINT) AS keeper
FROM __c GROUP BY canon HAVING count(*) > 1
""",
    "Extension (round 9, crawl dedup): URL canonicalization dedup — case-fold "
    "scheme+host (http==https), strip default ports / fragments / utm_* params, sort "
    "surviving query params, collapse doubled and trailing slashes, then group raw "
    "variants by canonical form (keeper = min doc_id).  Canonicalization is a pure "
    "map-side Column expression (operators/dedup.canonical_url); ONE canonical-key "
    "count shuffle.  URLs are synthesized deterministically per doc_id (no URL column "
    "in the corpus — surrogate convention) covering every variant family the "
    "canonicalizer must collapse.",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.expr(
            _URL_SYNTH_SQL.format(k="doc_id", d4="doc_id div 4", str_t="STRING")
        ).alias("url"),
    )
    return url_dedup_groups(pages)


from ..operators.sessions import session_stats  # noqa: E402


@_q(
    "events_sessionized_stats",
    """
WITH __d AS (
  SELECT user_id, ts, event_id, event_type, count(*) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3, 4),
__f AS (
  SELECT user_id, ts, event_id, event_type, c,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0 THEN 1 ELSE 0 END AS is_start
  FROM __d
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, (event_type IS NULL), coalesce(event_type, ''))),
__g AS (
  SELECT user_id, ts, event_id, event_type, c,
         sum(is_start) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id, (event_type IS NULL), coalesce(event_type, '')
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM __f),
__s AS (SELECT user_id, sid, CAST(sum(c) AS BIGINT) AS n_events,
               CAST(floor(epoch(max(ts))) AS BIGINT)
                 - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur
        FROM __g GROUP BY 1, 2),
__l AS (SELECT user_id, sid, event_type AS landing
        FROM (SELECT user_id, sid, event_type,
                     row_number() OVER (PARTITION BY user_id, sid
                                        ORDER BY ts, event_id, (event_type IS NULL), coalesce(event_type, '')) AS rn
              FROM __g) WHERE rn = 1),
__ps AS (SELECT l.landing, s.n_events, s.dur
         -- NULL-safe key: a NULL user_id is a real session group (both
         -- engines aggregate it); a plain equi-join would drop it here
         -- while the Spark side computes landing in the SAME groupBy
         -- (caught by the nulls2 degenerate tier in round 9)
         FROM __s s JOIN __l l
           ON s.user_id IS NOT DISTINCT FROM l.user_id AND s.sid = l.sid)
SELECT landing,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) AS avg_events,
       round(CAST(sum(dur) AS DOUBLE) / count(*), 6) AS avg_duration_sec,
       CAST(max(dur) AS BIGINT) AS max_duration_sec,
       round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS bounce_rate
FROM __ps GROUP BY landing
""",
    "Extension (round 9, product analytics): session quality report by LANDING event "
    "type — session count, bounce rate (single-event sessions), mean/max duration, "
    "mean events per session.  Same gaps-and-islands core and determinism discipline "
    "as sessionize_users (byte-identical tuples collapsed pre-window; event_type joins "
    "the ordering tuple as (type IS NULL, coalesce(type,'')) so a fully-tied boundary's "
    "landing is decided by values, not shuffle order — the null flag keeps NULL vs '' "
    "un-tied).  All windows user-partitioned; durations floor-second "
    "integers; means exact rationals (operators/sessions.session_stats).",
)
def events_sessionized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_stats(load_table(spark, sf_dir, "events"))


# --- round-9 second wave: exact information-theoretic scoring ---------

from ..operators.text import dsir_weights, token_entropy, zipf_fit  # noqa: E402


def _token_entropy_oracle() -> str:
    from ..functions.fixedpoint import ONE_Q12, log2_q12_sql_ctes

    k_chain = log2_q12_sql_ctes("__pw", ["doc_id", "k"], "k", "lgk", "__ek")
    n_chain = log2_q12_sql_ctes("__pd", ["doc_id", "n_tokens", "n_types", "sk"], "n_tokens", "lgn", "__en")
    return f"""
WITH __w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents WHERE text IS NOT NULL),
__pw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS k FROM __w GROUP BY doc_id, w),
{k_chain},
__pd AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
                CAST(count(*) AS BIGINT) AS n_types,
                CAST(sum(k * lgk) AS BIGINT) AS sk
         FROM __ekf GROUP BY doc_id),
{n_chain}
SELECT doc_id, n_tokens, n_types,
       round(CAST(n_tokens * lgn - sk AS DOUBLE) / n_tokens / {float(ONE_Q12)!r}, 6) AS entropy_bits,
       round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS type_token_ratio
FROM __enf
"""


@_q(
    "doc_token_entropy",
    _token_entropy_oracle(),
    "Extension (round 9, quality scoring): per-doc unigram entropy in bits + type-token "
    "ratio — the repetitiveness/compressibility signal — computed ENTIRELY in Q12 "
    "fixed-point integer arithmetic (H = log2(n) - Σk·log2(k)/n; numerator exact int64 "
    "for any document under 2^45 tokens), so the entropy is bit-identical across "
    "engines.  One (doc,word) count shuffle; log2 chains are codegen integer ops "
    "(operators/text.token_entropy).",
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_entropy(load_table(spark, sf_dir, "documents"))


_QUALITY_OK_SQL = (
    "(len(string_split(text, ' ')) >= 5 AND len(string_split(text, ' ')) <= 1000"
    f" AND len(list_filter(string_split(text, ' '), w -> w IN ({_GOPHER_STOP_SQL})))"
    " * 1.0 / len(string_split(text, ' ')) <= 0.5"
    " AND (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0"
    " / len(string_split(text, ' ')) >= 2.0"
    " AND (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0"
    " / len(string_split(text, ' ')) <= 12.0)"
)


def _dsir_oracle(n_buckets: int = 1024) -> str:
    from ..functions.fixedpoint import ONE_Q12, log2_q12_sql_ctes

    t_chain = log2_q12_sql_ctes("__m0", ["b", "num_r", "w_keep"], "num_t", "lg_t", "__dt")
    r_chain = log2_q12_sql_ctes("__dtf", ["b", "lg_t"], "num_r", "lg_r", "__dr")
    dt_chain = log2_q12_sql_ctes("__t0", ["den_r"], "den_t", "lg_dt", "__tt")
    dr_chain = log2_q12_sql_ctes("__ttf", ["lg_dt"], "den_r", "lg_dr", "__tr")
    return f"""
WITH __tok AS (
  SELECT doc_id, {_QUALITY_OK_SQL} AS is_t,
         ('0x' || substring(md5(unnest(list_filter(string_split(text, ' '), w -> w <> ''))), 1, 8))::VARCHAR::UBIGINT % {n_buckets} AS b
  FROM documents WHERE text IS NOT NULL),
__db AS (SELECT doc_id, is_t, CAST(b AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS k
         FROM __tok GROUP BY 1, 2, 3),
__f AS (SELECT b,
               CAST(sum(CASE WHEN is_t THEN k ELSE 0 END) AS BIGINT) AS c_t,
               CAST(sum(k) AS BIGINT) AS c_r
        FROM __db GROUP BY b),
__m0 AS (SELECT b, c_t + 1 AS num_t, c_r + 1 AS num_r, 0 AS w_keep FROM __f),
{t_chain},
{r_chain},
__m AS (SELECT b, lg_t - lg_r AS w_part FROM __drf),
__t0 AS (SELECT CAST(sum(c_t) + {n_buckets} AS BIGINT) AS den_t,
                CAST(sum(c_r) + {n_buckets} AS BIGINT) AS den_r FROM __f),
{dt_chain},
{dr_chain},
__wd AS (SELECT lg_dt - lg_dr AS w_den FROM __trf),
__sc AS (SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_tokens,
                CAST(sum(d.k * m.w_part) AS BIGINT) AS s_q12
         FROM (SELECT doc_id, b, CAST(sum(k) AS BIGINT) AS k FROM __db GROUP BY 1, 2) d
         JOIN __m m USING (b) GROUP BY 1)
SELECT s.doc_id, s.n_tokens,
       round(CAST(s.s_q12 - s.n_tokens * w.w_den AS DOUBLE) / {float(ONE_Q12)!r}, 6) AS log2_weight_bits,
       CAST(s.s_q12 - s.n_tokens * w.w_den AS DOUBLE) / {float(ONE_Q12)!r} > 0.0 AS resample_keep
FROM __sc s CROSS JOIN __wd w
"""


@_q(
    "corpus_dsir_weights",
    _dsir_oracle(),
    "Extension (round 9, data selection): DSIR-style importance weights (Xie et al. "
    "2023, public) — per-doc log2 likelihood ratio of the hashed-unigram bag under the "
    "TARGET distribution (docs passing the quality gate) vs the RAW corpus, add-one "
    "smoothed over 1024 hashed features, in Q12 fixed point (engine-exact).  The "
    "feature relation is 1024-bounded, so the log2 chains and totals are tiny and the "
    "token stream is scored by one broadcast bucket join "
    "(operators/text.dsir_weights).",
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_ok

    return dsir_weights(load_table(spark, sf_dir, "documents"), quality_ok("text"))


def _zipf_oracle(max_terms: int = 1000) -> str:
    from ..functions.fixedpoint import ONE_Q12, log2_q12_sql_ctes

    x_chain = log2_q12_sql_ctes("__v", ["cnt"], "vocab_id", "x", "__zx")
    y_chain = log2_q12_sql_ctes("__zxf", ["x"], "cnt", "y", "__zy")
    return f"""
WITH __tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents),
__c AS (
  SELECT token, count(*) AS cnt FROM __tok GROUP BY token
  ORDER BY cnt DESC, token LIMIT {max_terms}),
__v AS (
  SELECT CAST(cnt AS BIGINT) AS cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS vocab_id
  FROM __c),
{x_chain},
{y_chain},
__s AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        FROM __zyf)
SELECT n AS n_terms,
       round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(sx AS DOUBLE)) / n / {float(ONE_Q12)!r}, 6) AS intercept_bits
FROM __s
"""


@_q(
    "token_zipf_fit",
    _zipf_oracle(),
    "Extension (round 9, corpus monitoring): Zipf power-law fit — OLS of log2(freq) on "
    "log2(rank) over the top-1000 vocabulary (slope ≈ -1 on natural language; drift is "
    "a cheap corpus-shift alarm).  x/y in Q12 fixed point, OLS sums exact int64 "
    "(n·Σxy < 2^55 at these bounds), ONE deterministic double division at the end.  "
    "Runs on the post-LIMIT vocab relation; the corpus-scale work is build_vocab's "
    "token-count shuffle (operators/text.zipf_fit).",
)
def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zipf_fit(load_table(spark, sf_dir, "documents"))


# --- round-10 additions: streaming twins for the round-9 batch wave ---


@_q(
    "streaming_sessionized_stats_replay",
    """
WITH __e0 AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
    AND epoch(ts) > 0 AND epoch(ts) < 9200000000),
__wm AS (SELECT max(epoch(ts)) AS wm FROM __e0),
__d AS (
  -- duplicate collapse: see events_sessionized_stats (tie-order
  -- hazard); the native session_window aggregation is value-based, so
  -- duplicates share one session and one landing on BOTH sides
  SELECT user_id, ts, event_id, event_type, count(*) AS c
  FROM __e0 GROUP BY 1, 2, 3, 4),
__f AS (
  SELECT user_id, ts, event_id, event_type, c,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0 THEN 1 ELSE 0 END AS is_start
  FROM __d
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, (event_type IS NULL), coalesce(event_type, ''))),
__g AS (
  SELECT user_id, ts, event_id, event_type, c,
         sum(is_start) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id, (event_type IS NULL), coalesce(event_type, '')
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM __f),
__s AS (SELECT user_id, sid,
               CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
               CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
               max(epoch(ts)) AS last_e,
               CAST(sum(c) AS BIGINT) AS n_events,
               CAST(floor(epoch(max(ts))) AS BIGINT)
                 - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
        FROM __g GROUP BY 1, 2),
__l AS (SELECT user_id, sid, event_type AS landing
        FROM (SELECT user_id, sid, event_type,
                     row_number() OVER (PARTITION BY user_id, sid
                                        ORDER BY ts, event_id, (event_type IS NULL), coalesce(event_type, '')) AS rn
              FROM __g) WHERE rn = 1)
SELECT s.user_id, s.session_start, s.session_end, l.landing, s.n_events, s.duration_sec
FROM __s s
JOIN __l l ON s.user_id IS NOT DISTINCT FROM l.user_id AND s.sid = l.sid
CROSS JOIN __wm
WHERE s.last_e + 1800.0 <= wm AND s.last_e + 1800.0 > 0
""",
    "Extension (round 10, round-9 verdict #5): bounded availableNow replay of "
    "streaming/jobs.streaming_session_stats — native merging session windows (30-min "
    "gap) carrying a value-ordered landing pick (min_by over the (ts, event_id, "
    "type IS NULL, coalesce(type,'')) tuple — the null flag keeps NULL vs '' types "
    "un-tied) plus count and floor-second duration, per-session grain "
    "(a landing-keyed report needs a second stateful agg, which append mode forbids).  "
    "Append mode emits a session once the watermark (max event time, 0 s delay) reaches "
    "its window end = last event + gap, so the oracle is the batch gaps-and-islands "
    "sessionization with landing RESTRICTED to closed sessions (last_ts + gap <= wm, "
    "inclusive) and non-late ones (window end past the initial watermark of 0); the "
    "trailing open session per key stays in the state store.  Domain: event_id IS NOT "
    "NULL on BOTH sides — a NULL tiebreak orders NULLS FIRST in Spark windows but "
    "NULLS LAST in SQL engines (the sessionize lesson); NULL user_id and NULL "
    "event_type stay IN (real session group / real landing value on both engines).",
)
def streaming_sessionized_stats_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import (
        read_events_stream,
        run_bounded_df,
        streaming_session_stats,
    )

    stream = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_id").isNotNull() & _replay_ts_ok())
        .select("user_id", "ts", "event_id", "event_type")
    )
    return run_bounded_df(streaming_session_stats(stream, gap="30 minutes"))


@_q(
    "streaming_url_dedup_replay",
    f"""
WITH __u AS (
  SELECT doc_id,
         {_URL_SYNTH_SQL.format(k='doc_id', d4='doc_id // 4', str_t='VARCHAR')} AS url
  FROM documents WHERE doc_id IS NOT NULL),
__c AS (
  SELECT lower(regexp_replace(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''),
               '^[Hh][Tt][Tt][Pp][Ss]?://', ''), '^([^/?]+)', 1), ':(80|443)$', ''))
         ||
         regexp_replace(regexp_replace(regexp_replace(
               regexp_extract(regexp_replace(regexp_replace(regexp_replace(url, '#.*$', ''),
                 '^[Hh][Tt][Tt][Pp][Ss]?://', ''), '^[^/?]+', ''), '^([^?]*)', 1),
               '/{{2,}}', '/', 'g'), '/$', ''), '', '')
         ||
         CASE WHEN array_to_string(list_sort(list_filter(string_split(
                  regexp_extract(regexp_replace(regexp_replace(regexp_replace(url, '#.*$', ''),
                    '^[Hh][Tt][Tt][Pp][Ss]?://', ''), '^[^/?]+', ''), '\\?(.*)$', 1), '&'),
                  p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') <> ''
              THEN '?' || array_to_string(list_sort(list_filter(string_split(
                  regexp_extract(regexp_replace(regexp_replace(regexp_replace(url, '#.*$', ''),
                    '^[Hh][Tt][Tt][Pp][Ss]?://', ''), '^[^/?]+', ''), '\\?(.*)$', 1), '&'),
                  p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')
              ELSE '' END AS canon
  FROM __u)
SELECT DISTINCT canon FROM __c
""",
    "Extension (round 10, round-9 verdict #5): streaming twin of dedup_url_canonical — "
    "bounded availableNow replay of crawl-ingest URL dedup: the map-side Column "
    "canonicalizer (operators/dedup.canonical_url) followed by "
    "dropDuplicatesWithinWatermark on the canonical key, so ingest state holds one "
    "entry per canonical URL inside the watermark horizon and evicts past it (the "
    "bounded-state property crawl-scale ingest needs).  Event time is synthesized "
    "deterministically from doc_id (documents carry no timestamp — FIXTURES.md "
    "surrogate convention); with the horizon (90 d) wider than the synthetic span no "
    "key re-emits, so the emitted key set IS the batch DISTINCT canonical set; the "
    "survivor ROW per key is arrival-order-dependent, so only the canonical key is "
    "projected (the streaming_dedup_replay discipline).",
)
def streaming_url_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import canonical_url
    from ..streaming.jobs import read_events_stream, run_bounded_df, streaming_dedup

    stream = (
        read_events_stream(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select(
            F.expr(
                _URL_SYNTH_SQL.format(k="doc_id", d4="doc_id div 4", str_t="STRING")
            ).alias("url"),
            F.timestamp_seconds(F.col("doc_id") + 1).alias("ts"),
        )
        .select(canonical_url("url").alias("canon"), F.col("ts"))
    )
    return run_bounded_df(
        streaming_dedup(stream, ["canon"], watermark="90 days")
    ).select("canon")


from ..operators.text import kneser_ney_surprisal  # noqa: E402


def _kn_perplexity_oracle(wide: bool = False) -> str:
    """DuckDB twin of kneser_ney_surprisal: the shared remapped model
    CTEs, the KN statistics (context totals + continuation counts +
    distinct-bigram total) as exact-integer num/den at discount D = 3/4,
    then the two generated Q12 log2 chains.  ``wide=True`` mirrors the
    DECIMAL(38) variant: num/den in HUGEINT and the 62-bit-split wide
    log2 chain — identical integers on the shared domain, so the wide
    Spark path hashing green against this oracle is a cross-engine
    proof that both wide implementations agree."""
    from ..functions.fixedpoint import ONE_Q12, log2_q12_sql_ctes

    num_chain = log2_q12_sql_ctes(
        "__mn", ["prev", "cur", "den", "num"], "num", "lg_num", "__ln", wide=wide
    )
    den_chain = log2_q12_sql_ctes(
        "__lnf", ["prev", "cur", "lg_num"], "den", "lg_den", "__ld", wide=wide
    )
    num_t, den_t = ("HUGEINT", "HUGEINT") if wide else ("BIGINT", "BIGINT")
    return f"""
{_BIGRAM_MODEL_CTES},
__cx AS (SELECT prev, CAST(sum(c_bg) AS BIGINT) AS c_ctx,
                CAST(count(*) AS BIGINT) AS n1p
         FROM __m GROUP BY 1),
__cn AS (SELECT cur, CAST(count(*) AS BIGINT) AS n1pl FROM __m GROUP BY 1),
__bt AS (SELECT CAST(count(*) AS BIGINT) AS b FROM __m),
__mn AS (SELECT m.prev, m.cur,
                CAST(greatest(4 * CAST(m.c_bg AS {num_t}) - 3, 0) * bt.b
                     + 3 * CAST(cx.n1p AS {num_t}) * cn.n1pl AS {num_t}) AS num,
                CAST(4 * CAST(bt.b AS {den_t}) * cx.c_ctx AS {den_t}) AS den
         FROM __m m JOIN __cx cx USING (prev) JOIN __cn cn USING (cur)
         CROSS JOIN __bt bt),
{num_chain},
{den_chain},
__sp AS (SELECT prev, cur, lg_den - lg_num AS surprisal_q12 FROM __ldf),
__sc AS (SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_bigrams,
                CAST(sum(d.k * s.surprisal_q12) AS BIGINT) AS s_q12
         FROM __dbg d JOIN __sp s USING (prev, cur) GROUP BY 1)
SELECT doc_id, n_bigrams,
       round(CAST(s_q12 AS DOUBLE) / n_bigrams / {float(ONE_Q12)!r}, 6) AS avg_kn_bits,
       CASE WHEN round(CAST(s_q12 AS DOUBLE) / n_bigrams / {float(ONE_Q12)!r}, 6) < 6.0 THEN 'head'
            WHEN round(CAST(s_q12 AS DOUBLE) / n_bigrams / {float(ONE_Q12)!r}, 6) < 9.0 THEN 'middle'
            ELSE 'tail' END AS kn_bucket
FROM __sc
"""


@_q(
    "token_kn_perplexity",
    _kn_perplexity_oracle(),
    "Extension (round 10, LM quality scoring): per-doc interpolated Kneser-Ney bigram "
    "surprisal (Kneser & Ney 1995, the KenLM-default smoothing; discount D=3/4 per "
    "Chen-Goodman) — the signal practitioners rank corpora with, since add-one "
    "over-smooths frequent contexts.  With D=3/4 every probability is the exact "
    "rational (max(4c-3,0)·B + 3·n1p·n1pl)/(4·B·c_ctx), so surprisal stays in the Q12 "
    "fixed-point integer log2 and hash-matches DuckDB; exact while B·c_ctx < 2^61 "
    "(stated bound, safe for any sub-trillion-token corpus).  Shares the pinned "
    "min-count-cut doc-bigram relations with token_ngram_perplexity "
    "(operators/text.kneser_ney_surprisal); every KN statistic is one aggregate of "
    "the MODEL relation, never the token stream.",
)
def token_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kneser_ney_surprisal(load_table(spark, sf_dir, "documents"))


@_q(
    "token_kn_perplexity_wide",
    _kn_perplexity_oracle(wide=True),
    "Extension (round 11, round-10 verdict #4): the DECIMAL(38) escape hatch for the "
    "exact KN chain, live end-to-end — num/den built in DECIMAL(38,0) and fed through "
    "the wide Q12 log2 (62-bit split + the identical square-and-shift chain, "
    "functions/fixedpoint.with_log2_q12 wide=True), valid to B*c_ctx < 2^122 where "
    "the int64 path's guard raises at 2^61.  The wide function EQUALS the narrow one "
    "on the shared domain, and the oracle here is the HUGEINT wide twin — a hash "
    "match is a cross-engine proof both wide implementations agree bit-for-bit "
    "(operators/text.kneser_ney_surprisal wide=True).",
)
def token_kn_perplexity_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kneser_ney_surprisal(load_table(spark, sf_dir, "documents"), wide=True)


from ..operators.dedup import source_overlap_matrix  # noqa: E402


@_q(
    "corpus_source_overlap",
    """
WITH __sg AS (
  SELECT DISTINCT coalesce(source, '') AS src,
         array_to_string(ws[i:i+7], ' ') AS g
  FROM (SELECT source, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents WHERE text IS NOT NULL),
       unnest(range(1, len(ws) - 6)) AS t(i)
  WHERE len(ws) >= 8),
__t AS (SELECT src, CAST(count(*) AS BIGINT) AS n_grams FROM __sg GROUP BY 1),
__p AS (SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS n_shared
        FROM __sg a JOIN __sg b ON a.g = b.g AND a.src < b.src
        GROUP BY 1, 2)
SELECT p.src_a, p.src_b, p.n_shared,
       ta.n_grams AS n_a, tb.n_grams AS n_b,
       round(CAST(p.n_shared AS DOUBLE) / ta.n_grams, 6) AS containment_a,
       round(CAST(p.n_shared AS DOUBLE) / tb.n_grams, 6) AS containment_b,
       round(CAST(p.n_shared AS DOUBLE) / (ta.n_grams + tb.n_grams - p.n_shared), 6) AS jaccard
FROM __p p
JOIN __t ta ON p.src_a = ta.src
JOIN __t tb ON p.src_b = tb.src
""",
    "Extension (round 10, corpus forensics): pairwise 8-gram overlap between corpus "
    "SOURCES — shared distinct grams, per-side totals, containments and Jaccard per "
    "unordered source pair; the report that exposes mirror/syndication/re-crawl feeds "
    "before per-document dedup runs.  ONE explode builds the distinct (source, gram) "
    "relation (|sources|× smaller than the dedup family's per-doc gram relations); the "
    "self-join is gram-keyed and key-parallel (a gram shared by k sources emits C(k,2) "
    "rows, source count single-digit at any SF); output ≤ C(|sources|,2) rows "
    "(operators/dedup.source_overlap_matrix).",
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_overlap_matrix(load_table(spark, sf_dir, "documents"))


from ..operators.sampling import stratified_quota  # noqa: E402


@_q(
    "dataset_split_stratified_quota",
    """
WITH __p AS (
  SELECT coalesce(source, '') AS stratum,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) // 10 AS BIGINT) AS base_q,
         CAST(count(*) - (count(*) // 10) * 10 AS BIGINT) AS rem
  FROM documents GROUP BY 1),
__t AS (SELECT CAST(sum(n_rows) // 10 AS BIGINT) AS t_total,
               CAST(sum(base_q) AS BIGINT) AS base_total
        FROM __p),
__r AS (SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, stratum ASC) AS BIGINT) AS rnk
        FROM __p)
SELECT stratum, n_rows,
       CAST(base_q + CASE WHEN rnk <= t.t_total - t.base_total THEN 1 ELSE 0 END AS BIGINT) AS quota,
       round(CAST(base_q + CASE WHEN rnk <= t.t_total - t.base_total THEN 1 ELSE 0 END AS DOUBLE)
             / n_rows, 6) AS realized_frac
FROM __r CROSS JOIN __t t
""",
    "Extension (round 10, split curation): largest-remainder (Hamilton) apportionment "
    "of an EXACT global 10% validation quota across sources — floor(n_i/10) per "
    "stratum plus one for the T - Σbase largest remainders (ties by stratum name; all "
    "int64 `div` arithmetic, engine-exact) — the exact-total guarantee Bernoulli "
    "hash_split cannot give.  ONE group-by shuffle; the remainder-rank window is "
    "keyless on the per-stratum relation (plan-audit-exempt, one row per source) and "
    "the totals are a broadcast single-row aggregate "
    "(operators/sampling.stratified_quota).",
)
def dataset_split_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_quota(load_table(spark, sf_dir, "documents"))


from ..operators.text import source_unigram_kl  # noqa: E402


def _source_kl_oracle() -> str:
    """DuckDB twin of source_unigram_kl: (source, word) counts, corpus
    counts derived from them, FOUR generated Q12 log2 chains (corpus
    word counts, per-source word counts, the two smoothing denominators)
    and the closed-form absent-word regrouping."""
    from ..functions.fixedpoint import ONE_Q12, log2_q12_sql_ctes

    cw_chain = log2_q12_sql_ctes("__cw1", ["w", "c_w", "c_w1"], "c_w1", "lg_cw", "__kc")
    sw_chain = log2_q12_sql_ctes(
        "__sw1", ["src", "w", "c_sw", "c_sw1"], "c_sw1", "lg_csw", "__ks"
    )
    pr_carry = [
        "src", "n_s", "v_s", "a_self", "c1_sum", "a_corpus",
        "lg_cw_present", "v", "n_total", "s_all", "ns_v", "n_v",
    ]
    nsv_chain = log2_q12_sql_ctes("__pr2", pr_carry, "ns_v", "lg_nsv", "__kn")
    nv_chain = log2_q12_sql_ctes("__knf", pr_carry + ["lg_nsv"], "n_v", "lg_nv", "__kv")
    return f"""
WITH __wd AS (
  SELECT coalesce(source, '') AS src,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents WHERE text IS NOT NULL),
__sw0 AS (SELECT src, w, CAST(count(*) AS BIGINT) AS c_sw FROM __wd GROUP BY 1, 2),
__cw0 AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM __sw0 GROUP BY 1),
__cw1 AS (SELECT w, c_w, c_w + 1 AS c_w1 FROM __cw0),
{cw_chain},
__sc AS (SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c_w) AS BIGINT) AS n_total,
                CAST(sum(lg_cw) AS BIGINT) AS s_all
         FROM __kcf),
__sw1 AS (SELECT src, w, c_sw, c_sw + 1 AS c_sw1 FROM __sw0),
{sw_chain},
__pr AS (SELECT s.src,
                CAST(sum(s.c_sw) AS BIGINT) AS n_s,
                CAST(count(*) AS BIGINT) AS v_s,
                CAST(sum(s.c_sw1 * s.lg_csw) AS BIGINT) AS a_self,
                CAST(sum(s.c_sw1) AS BIGINT) AS c1_sum,
                CAST(sum(s.c_sw1 * c.lg_cw) AS BIGINT) AS a_corpus,
                CAST(sum(c.lg_cw) AS BIGINT) AS lg_cw_present
         FROM __ksf s JOIN __kcf c USING (w) GROUP BY 1),
__pr2 AS (SELECT p.*, sc.v, sc.n_total, sc.s_all,
                 p.n_s + sc.v AS ns_v, sc.n_total + sc.v AS n_v
          FROM __pr p CROSS JOIN __sc sc),
{nsv_chain},
{nv_chain}
SELECT src AS source, n_s AS n_tokens, v_s AS n_types,
       round(CAST(a_self + c1_sum * (lg_nv - lg_nsv) - a_corpus
                  + (v - v_s) * (lg_nv - lg_nsv)
                  - (s_all - lg_cw_present) AS DOUBLE)
             / ns_v / {float(ONE_Q12)!r}, 6) AS kl_bits
FROM __kvf
"""


@_q(
    "corpus_source_kl",
    _source_kl_oracle(),
    "Extension (round 10, corpus monitoring): per-source KL divergence in bits of the "
    "source's add-one-smoothed unigram distribution from the corpus distribution — the "
    "information-theoretic upgrade of token_drift_chisq, possible only since the Q12 "
    "fixed-point log2 (functions/fixedpoint.py) made logarithms oracle-pairable.  "
    "Absent-vocabulary mass enters through a closed form ((V−V_s)·gap − (S_all − "
    "Σ_present lg(c_w+1))) so nothing beyond the present (source, word) relation "
    "materializes; all sums exact int64 Q12 products, one double division at the end.  "
    "ONE (source, word) count shuffle; corpus counts derive from it; log2 chains on "
    "model relations only (operators/text.source_unigram_kl).",
)
def corpus_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_unigram_kl(load_table(spark, sf_dir, "documents"))


from ..operators.text import heaps_law_fit, source_vocab_mi  # noqa: E402


def _source_mi_oracle() -> str:
    """DuckDB twin of source_vocab_mi: the entropy-decomposition terms
    A/B/C/D each summed over its OWN relation (no cross-chain joins),
    four generated Q12 log2 chains."""
    from ..functions.fixedpoint import ONE_Q12, log2_q12_sql_ctes

    a_chain = log2_q12_sql_ctes("__sw", ["src", "w", "c"], "c", "lg", "__ma")
    b_chain = log2_q12_sql_ctes("__ps", ["src", "n_s"], "n_s", "lg", "__mb")
    c_chain = log2_q12_sql_ctes("__pw", ["w", "c_w"], "c_w", "lg", "__mc")
    d_chain = log2_q12_sql_ctes(
        "__j", ["a", "n_pairs", "b", "n_sources", "c", "n_types", "n_tokens"],
        "n_tokens", "lg_n", "__md",
    )
    return f"""
WITH __wd AS (
  SELECT coalesce(source, '') AS src,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents WHERE text IS NOT NULL),
__sw AS (SELECT src, w, CAST(count(*) AS BIGINT) AS c FROM __wd GROUP BY 1, 2),
{a_chain},
__a AS (SELECT CAST(sum(c * lg) AS BIGINT) AS a, CAST(count(*) AS BIGINT) AS n_pairs
        FROM __maf),
__ps AS (SELECT src, CAST(sum(c) AS BIGINT) AS n_s FROM __sw GROUP BY 1),
{b_chain},
__b AS (SELECT CAST(sum(n_s * lg) AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS n_sources
        FROM __mbf),
__pw AS (SELECT w, CAST(sum(c) AS BIGINT) AS c_w FROM __sw GROUP BY 1),
{c_chain},
__c AS (SELECT CAST(sum(c_w * lg) AS BIGINT) AS c, CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(c_w) AS BIGINT) AS n_tokens
        FROM __mcf),
__j AS (SELECT * FROM __a CROSS JOIN __b CROSS JOIN __c),
{d_chain}
SELECT n_sources, n_types, n_tokens,
       round(CAST(a - b - c + n_tokens * lg_n AS DOUBLE) / n_tokens / {float(ONE_Q12)!r}, 6) AS mi_bits,
       round(CAST(n_tokens * lg_n - b AS DOUBLE) / n_tokens / {float(ONE_Q12)!r}, 6) AS h_source_bits,
       CASE WHEN n_tokens * lg_n - b > 0
            THEN round(CAST(a - b - c + n_tokens * lg_n AS DOUBLE)
                       / CAST(n_tokens * lg_n - b AS DOUBLE), 6) END AS uncertainty_coef
FROM __mdf
"""


@_q(
    "corpus_source_mi",
    _source_mi_oracle(),
    "Extension (round 10, corpus monitoring): mutual information between SOURCE and "
    "VOCABULARY in exact Q12 bits via the entropy decomposition MI = H(S)+H(W)-H(S,W) "
    "— each term sums over its OWN count relation (A on (source,word), B on sources, "
    "C on words, D scalar), so no log2 chain ever joins another relation.  High MI = "
    "sources speak different vocabularies (per-source curation pays); the uncertainty "
    "coefficient MI/H(source) normalizes it to [0,1].  ONE (source, word) count "
    "shuffle; single-row output (operators/text.source_vocab_mi).",
)
def corpus_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_vocab_mi(load_table(spark, sf_dir, "documents"))


def _heaps_oracle() -> str:
    """DuckDB twin of heaps_law_fit: per-source (tokens, types) points,
    two Q12 log2 chains, exact-int64 OLS, NULL-guarded degenerate fit."""
    from ..functions.fixedpoint import ONE_Q12, log2_q12_sql_ctes

    x_chain = log2_q12_sql_ctes("__ps", ["src", "n_s", "v_s"], "n_s", "x", "__hx")
    y_chain = log2_q12_sql_ctes("__hxf", ["src", "x"], "v_s", "y", "__hy")
    return f"""
WITH __wd AS (
  SELECT coalesce(source, '') AS src,
         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents WHERE text IS NOT NULL),
__ps AS (SELECT src, CAST(count(*) AS BIGINT) AS n_s,
                CAST(count(DISTINCT w) AS BIGINT) AS v_s
         FROM __wd GROUP BY 1),
{x_chain},
{y_chain},
__s AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        FROM __hyf)
SELECT n_points,
       CASE WHEN n_points * sxx - sx * sx > 0
            THEN round(CAST(n_points * sxy - sx * sy AS DOUBLE)
                       / CAST(n_points * sxx - sx * sx AS DOUBLE), 6) END AS heaps_beta,
       CASE WHEN n_points * sxx - sx * sx > 0
            THEN round((CAST(sy AS DOUBLE)
                        - CAST(n_points * sxy - sx * sy AS DOUBLE)
                          / CAST(n_points * sxx - sx * sx AS DOUBLE)
                          * CAST(sx AS DOUBLE)) / n_points / {float(ONE_Q12)!r}, 6)
       END AS intercept_bits
FROM __s
"""


@_q(
    "corpus_heaps_fit",
    _heaps_oracle(),
    "Extension (round 10, corpus monitoring): Heaps'-law vocabulary-growth fit across "
    "sources — OLS of log2(types) on log2(tokens), one (n_s, v_s) point per source; "
    "the exponent beta (~0.4-0.6 on natural text) is the MEASURED premise behind the "
    "bigram-model bound (SCALE.md: sub-linear vocabulary growth is why the min-count "
    "cut keeps the LM model sub-linear), and beta drift is a template-flood / "
    "synthetic-data alarm.  x/y in Q12, exact-int64 OLS, NULL-guarded when fewer than "
    "two distinct points; ONE (source, word) count shuffle "
    "(operators/text.heaps_law_fit).",
)
def corpus_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heaps_law_fit(load_table(spark, sf_dir, "documents"))


# --- round-11 wave: winnowing fingerprints (Schleimer/MOSS) -----------

from ..operators.dedup import winnow_fingerprints, winnow_source_matches  # noqa: E402


def _winnow_sel_ctes(k: int, w: int, with_src: bool, extra_where: str = "") -> str:
    """Shared DuckDB CTE chain mirroring operators/dedup._winnow_selected:
    identical gram hash (md5-prefix idiom), identical key encoding
    (hash·2^20 + (2^20−1−i), rightmost-tie-by-construction), identical
    window minima over the key list — the final CTE ``__s`` carries
    (doc_id[, src], n_grams, sel)."""
    src_sel = "coalesce(source, '') AS src, " if with_src else ""
    src_keep = "src, " if with_src else ""
    cap = (1 << 20) - 1
    return f"""
__w AS (
  SELECT doc_id, {src_sel}list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents WHERE text IS NOT NULL{extra_where}),
__d AS (
  SELECT doc_id, {src_keep}ws,
         least(CAST(len(ws) - {k} + 1 AS BIGINT), {cap}) AS n_grams
  FROM __w WHERE len(ws) >= {k}),
__k AS (
  SELECT doc_id, {src_keep}n_grams,
         list_transform(range(1, CAST(n_grams AS INT) + 1),
           i -> CAST(('0x' || substring(md5(array_to_string(ws[i:i+{k - 1}], ' ')), 1, 8))::UBIGINT AS BIGINT)
                * {1 << 20} + ({cap} - i)) AS keys
  FROM __d),
__s AS (
  SELECT doc_id, {src_keep}n_grams,
         list_distinct(list_transform(
           range(1, CAST(greatest(1, n_grams - {w} + 1) AS INT) + 1),
           j -> list_min(keys[j:j+{w - 1}]))) AS sel
  FROM __k)"""


@_q(
    "docs_winnow_fingerprints",
    f"""
WITH {_winnow_sel_ctes(4, 4, False)}
SELECT doc_id, n_grams,
       CAST(len(sel) AS BIGINT) AS n_fingerprints,
       round(CAST(len(sel) AS DOUBLE) / n_grams, 6) AS fp_density
FROM __s
""",
    "Extension (round 11, contamination/plagiarism forensics): per-document winnowing "
    "fingerprint report (Schleimer, Schwartz & Aiken 2003 — the MOSS local "
    "fingerprinting): hash every 4-word gram (cross-engine md5-prefix idiom), slide a "
    "4-window over the hash stream, record each window's minimum with the rightmost "
    "tie rule (one BIGINT min over key = hash*2^20 + (2^20-1-pos)), distinct the "
    "records.  Density ~2/(w+1) on natural text; drift is a repetition alarm.  The "
    "ENTIRE selection is per-row higher-order-function arithmetic — map-only, zero "
    "shuffles in the plan (operators/dedup.winnow_fingerprints).",
)
def docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_fingerprints(load_table(spark, sf_dir, "documents"))


@_q(
    "corpus_winnow_matches",
    f"""
WITH {_winnow_sel_ctes(4, 4, True)},
__sg AS (SELECT DISTINCT src, fp // {1 << 20} AS h
         FROM (SELECT src, unnest(sel) AS fp FROM __s)),
__t AS (SELECT src, CAST(count(*) AS BIGINT) AS n_fp FROM __sg GROUP BY 1),
__p AS (SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS n_shared
        FROM __sg a JOIN __sg b ON a.h = b.h AND a.src < b.src
        GROUP BY 1, 2)
SELECT p.src_a, p.src_b, p.n_shared,
       ta.n_fp AS n_a, tb.n_fp AS n_b,
       round(CAST(p.n_shared AS DOUBLE) / ta.n_fp, 6) AS containment_a,
       round(CAST(p.n_shared AS DOUBLE) / tb.n_fp, 6) AS containment_b,
       round(CAST(p.n_shared AS DOUBLE) / (ta.n_fp + tb.n_fp - p.n_shared), 6) AS jaccard
FROM __p p
JOIN __t ta ON p.src_a = ta.src
JOIN __t tb ON p.src_b = tb.src
""",
    "Extension (round 11, corpus forensics at scale): pairwise shared-WINNOWED-"
    "fingerprint report between sources — the guarantee-preserving scale path to "
    "corpus_source_overlap: any shared run of >= w+k-1 = 7 words between two sources "
    "shares at least one selected fingerprint (Schleimer et al. 2003, Thm 1), at an "
    "expected 2/(w+1) = 40% of the distinct-gram universe, with the SAME report "
    "columns — so mirrors cannot hide from the sampled report the way they can from "
    "a high-df gram cap.  Map-only selection, one explode + one (source, hash) "
    "distinct, then the merge-hinted hash-keyed pair join "
    "(operators/dedup.winnow_source_matches).",
)
def corpus_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_source_matches(load_table(spark, sf_dir, "documents"))


# --- round-11: k-core of the near-dup graph ---------------------------


def _kcore_oracle(k: int = 2, rounds: int = 4) -> str:
    """DuckDB twin of operators/graph.kcore over the shared LSH pair
    set: the same symmetrize-distinct edge build, then each peel round
    unrolled as (degree, keep, filtered-edges) CTEs — exact integer
    arithmetic end to end, so every round replays identically."""
    # every __e{i} is referenced twice per round (degree + filter) and
    # __pairs twice by the symmetrize UNION: without MATERIALIZED,
    # DuckDB inlines CTEs and re-executes the LSH pipeline 2^rounds
    # times (measured: 144 s vs 1 s at sf0.01)
    ctes = ""
    for i in range(rounds):
        ctes += f"""__d{i} AS (SELECT s, count(*) AS deg FROM __e{i} GROUP BY s),
__k{i} AS (SELECT s FROM __d{i} WHERE deg >= {k}),
__e{i + 1} AS MATERIALIZED (SELECT e.s, e.d FROM __e{i} e
               JOIN __k{i} a ON e.s = a.s JOIN __k{i} b ON e.d = b.s),
"""
    return f"""
WITH __pairs AS MATERIALIZED ({_lsh_verified_oracle(0.5)}),
__e0 AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM __pairs
         UNION SELECT doc_b, doc_a FROM __pairs),
{ctes}__fin AS (SELECT s AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
        FROM __e{rounds} GROUP BY s HAVING count(*) >= {k})
SELECT doc_id, core_degree FROM __fin
"""


@_q(
    "dedup_kcore_members",
    _kcore_oracle(2, 4),
    "Extension (round 11, iterative graph algorithm #3): 2-core of the MinHash-LSH "
    "verified near-dup graph, 4 synchronous peels unrolled (fixed-round semantics "
    "like dedup_pagerank's 3) — each peel drops nodes whose degree fell below 2 "
    "along with their edges.  The 2-core separates DENSE template families (mirror "
    "rings, boilerplate factories — every member similar to every other) from "
    "transitive near-dup CHAINS that peel away; core degree ranks how deep in the "
    "family a document sits, a distinction cluster-size histograms cannot make.  "
    "Each round is one degree aggregation + two node-keyed semi-joins, each round's "
    "edge set materialized by an eager localCheckpoint (operators/graph.kcore).  "
    "Reuses the session-shared pair set.",
)
def dedup_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

    # eager by contract (per-round localCheckpoint)
    return kcore(_doc_lsh_pairs(spark, sf_dir), "doc_a", "doc_b", k=2, rounds=4).select(
        F.col("id").alias("doc_id"), "core_degree"
    )


@_q(
    "streaming_winnow_dedup_replay",
    f"""
WITH {_winnow_sel_ctes(4, 4, False, extra_where=" AND doc_id IS NOT NULL")}
SELECT DISTINCT fp // {1 << 20} AS h
FROM (SELECT unnest(sel) AS fp FROM __s)
""",
    "Extension (round 11): streaming twin of the winnowing ingest guard — bounded "
    "availableNow replay of crawl-ingest FINGERPRINT dedup: the map-side winnowing "
    "selection (operators/dedup._winnow_selected — higher-order functions work "
    "unchanged inside a streaming plan, including the Generate barrier), one explode "
    "to per-fingerprint rows, then dropDuplicatesWithinWatermark on the 32-bit "
    "fingerprint hash, so ingest state holds one entry per DISTINCT fingerprint "
    "inside the horizon and evicts past it — the content-level first-seen filter a "
    "crawl pipeline runs next to the URL-level one (streaming_url_dedup_replay).  "
    "Event time synthesized deterministically from doc_id (FIXTURES.md surrogate "
    "convention); horizon (90 d) wider than the synthetic span, so no key re-emits "
    "and the emitted set IS the batch distinct winnowed-fingerprint set; survivor "
    "rows are arrival-order-dependent, so only the hash is projected (the "
    "streaming_dedup_replay discipline).",
)
def streaming_winnow_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _WINNOW_POS_BITS, _winnow_selected
    from ..streaming.jobs import read_events_stream, run_bounded_df, streaming_dedup

    stream = (
        read_events_stream(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select(
            "doc_id",
            "text",
            F.timestamp_seconds(F.col("doc_id") + 1).alias("ts"),
        )
    )
    fp = _winnow_selected(stream, 4, 4, "doc_id", "text", ["doc_id", "ts"])
    fp = fp.select(
        "ts", F.explode("fp_keys").alias("key")
    ).select("ts", F.shiftright("key", _WINNOW_POS_BITS).alias("h"))
    return run_bounded_df(
        streaming_dedup(fp, ["h"], watermark="90 days")
    ).select("h")


# --- round-11: Jensen-Shannon divergence (wide-chain consumer #2) -----

from ..operators.text import source_unigram_js  # noqa: E402


def _source_js_oracle() -> str:
    """DuckDB twin of source_unigram_js: identical present-relation
    algebra; the mid numerator c_sw·N + c_w·n_s runs in HUGEINT through
    the WIDE Q12 chain, mirroring the Spark DECIMAL(38) path."""
    from ..functions.fixedpoint import ONE_Q12, log2_q12_sql_ctes

    keep0 = ["src", "c_sw", "c_w", "n_s", "mid"]
    p_chain = log2_q12_sql_ctes("__rel0", keep0, "c_sw", "lg_p", "__jp")
    q_chain = log2_q12_sql_ctes("__jpf", keep0 + ["lg_p"], "c_w", "lg_q", "__jq")
    m_chain = log2_q12_sql_ctes(
        "__jqf", keep0 + ["lg_p", "lg_q"], "mid", "lg_mid", "__jm", wide=True
    )
    return f"""
WITH __wd AS (
  SELECT coalesce(source, '') AS src,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
  FROM documents WHERE text IS NOT NULL),
__sw AS (SELECT src, w, CAST(count(*) AS BIGINT) AS c_sw FROM __wd GROUP BY 1, 2),
__cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM __sw GROUP BY 1),
__tot0 AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_total,
                  CAST(2 * sum(c_w) AS BIGINT) AS n2 FROM __cw),
{log2_q12_sql_ctes("__tot0", ["n_total"], "n2", "lg_2n", "__jt")},
__ns0 AS (SELECT src, CAST(sum(c_sw) AS BIGINT) AS n_s,
                 CAST(count(*) AS BIGINT) AS v_s,
                 CAST(2 * sum(c_sw) AS BIGINT) AS ns2 FROM __sw GROUP BY 1),
{log2_q12_sql_ctes("__ns0", ["src", "n_s", "v_s"], "ns2", "lg_2ns", "__jn")},
__rel0 AS (SELECT s.src, s.c_sw, c.c_w, n.n_s,
                  CAST(s.c_sw AS HUGEINT) * t.n_total
                  + CAST(c.c_w AS HUGEINT) * n.n_s AS mid
           FROM __sw s JOIN __cw c USING (w) JOIN __jnf n USING (src)
           CROSS JOIN __jtf t),
{p_chain},
{q_chain},
{m_chain},
__agg AS (SELECT src,
                 CAST(sum(c_sw * (lg_p - lg_mid)) AS BIGINT) AS a_p,
                 CAST(sum(c_w * (lg_q - lg_mid)) AS BIGINT) AS a_q,
                 CAST(sum(c_w) AS BIGINT) AS m_s
          FROM __jmf GROUP BY src)
SELECT n.src AS source, n.n_s AS n_tokens, n.v_s AS n_types,
       round(((CAST(a.a_p + n.n_s * t.lg_2n AS DOUBLE) / n.n_s
               + CAST(a.a_q + a.m_s * n.lg_2ns AS DOUBLE) / t.n_total)
              / {float(ONE_Q12)!r}
              + CAST(t.n_total - a.m_s AS DOUBLE) / t.n_total) * 0.5, 6) AS js_bits
FROM __agg a JOIN __jnf n USING (src) CROSS JOIN __jtf t
"""


@_q(
    "corpus_source_js",
    _source_js_oracle(),
    "Extension (round 11, information-theoretic suite): per-source Jensen-Shannon "
    "divergence from the corpus mix in exact Q12 bits — the symmetric, bounded "
    "([0,1] with log2) companion to corpus_source_kl; JS needs no smoothing (0*lg0=0 "
    "is part of its definition), so both KL halves ride the PRESENT (source, word) "
    "relation and the absent-mass tail is the closed form (N - m_s)/N (M = Q/2 "
    "there).  The mid numerator c_sw*N + c_w*n_s reaches 2^90 on a web corpus, so "
    "its log2 runs the DECIMAL(38)/HUGEINT WIDE chain — the wide path's second "
    "production consumer, int64-exact sums while N < 2^43 tokens.  One (source, "
    "word) count shuffle; chains on the present relation; broadcast scalars "
    "(operators/text.source_unigram_js).",
)
def corpus_source_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_unigram_js(load_table(spark, sf_dir, "documents"))
