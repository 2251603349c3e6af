"""ClickBench EXTENDED suite (14 queries).

Reference: benchmarks/queries/clickbench/extended/q0.sql..q13.sql — the
DataFusion-specific additions to ClickBench: multi-DISTINCT passes, grouped
variance with HAVING on an aggregate, exact MEDIAN + APPROX_PERCENTILE_CONT
per high-cardinality key, a monster conjunctive row filter (regex +
split_part URL parsing + levenshtein), and ordered FIRST_VALUE aggregates.

Runs on the same deterministic `hits` projection as clickbench_full (shared
Spark/DuckDB view text).  Adaptations, each documented inline: deterministic
tiebreakers on every ORDER BY; constants rescaled to the synthetic value
domains (e.g. q6's `resolution > 1920` → `> 1000`, model prefix, IN-list);
AVG/MEDIAN rewritten order-independently (exact sums, ROUND on interpolated
medians); FIRST_VALUE ordered by (EventTime, WatchID) since EventTime alone
has second-level ties; q5's APPROX_PERCENTILE_CONT is Spark
approx_percentile at high accuracy, which returns the exact discrete order
statistic — checked against quantile_disc.

Scale shapes: everything is one scan + partial-agg + one keyed shuffle;
q4/q5's HAVING c > 1 prunes singleton groups before top-k; q6 is pure
scan-side expression evaluation (zero shuffles).
"""

from __future__ import annotations

from datafusion_spark.queries.clickbench_full import _hits_select, _pruned_hits_spark
from datafusion_spark.queries.helpers import two_level_distinct
from datafusion_spark.queries.registry import Plan, query, table_statement


def _cbx(n: int, body: str, duck_body: str | None = None, tags: tuple = (),
         big_body: str | None = None):
    # Spark side: hits CTE pruned to the referenced columns (analysis-cost
    # optimization, see _pruned_hits_spark); DuckDB oracle text untouched.
    # ``big_body`` (r13): an equivalent Spark-side respelling used ABOVE
    # the two_level_distinct input-size crossover (multi-DISTINCT split
    # into single-distinct branches — each auto-planned as a two-level
    # partial-distinct aggregate scanning only its own column — instead of
    # Expand(n+1 x rows)); row-identity of both shapes pinned in
    # tests/test_operators.py, oracle text untouched.
    spark_sql = f"WITH hits AS ({_pruned_hits_spark(body)})\n{body}"
    duck_sql = f"WITH hits AS ({_hits_select('duck')})\n{duck_body or body}"
    big_sql = (f"WITH hits AS ({_pruned_hits_spark(big_body)})\n{big_body}"
               if big_body else None)

    def fn(spark, sf_dir):
        text = fn.plan.final
        if big_sql and two_level_distinct(sf_dir, "events"):
            text = big_sql
        return table_statement(spark, text, sf_dir, {"events_cb": "events"})

    # fn.plan is the below-crossover shape (big_sql is pinned separately)
    fn.plan = Plan(spark_sql, spark_sql)
    fn.__name__ = f"cbx_q{n:02d}"
    fn.__doc__ = (
        f"ClickBench extended q{n} (reference benchmarks/queries/clickbench/"
        f"extended/q{n}.sql)."
    )
    query(f"cbx_q{n:02d}", oracle=duck_sql, tags=("clickbench_extended",) + tags)(fn)


_cbx(0, """SELECT CAST(COUNT(DISTINCT SearchPhrase) AS BIGINT) AS d_phrase,
CAST(COUNT(DISTINCT MobilePhone) AS BIGINT) AS d_phone,
CAST(COUNT(DISTINCT MobilePhoneModel) AS BIGINT) AS d_model FROM hits""",
     big_body="""SELECT d_phrase, d_phone, d_model
FROM (SELECT CAST(COUNT(DISTINCT SearchPhrase) AS BIGINT) AS d_phrase FROM hits)
CROSS JOIN (SELECT CAST(COUNT(DISTINCT MobilePhone) AS BIGINT) AS d_phone FROM hits)
CROSS JOIN (SELECT CAST(COUNT(DISTINCT MobilePhoneModel) AS BIGINT) AS d_model FROM hits)""")
_cbx(1, """SELECT CAST(COUNT(DISTINCT HitColor) AS BIGINT) AS d_color,
CAST(COUNT(DISTINCT BrowserCountry) AS BIGINT) AS d_country,
CAST(COUNT(DISTINCT BrowserLanguage) AS BIGINT) AS d_lang FROM hits""",
     big_body="""SELECT d_color, d_country, d_lang
FROM (SELECT CAST(COUNT(DISTINCT HitColor) AS BIGINT) AS d_color FROM hits)
CROSS JOIN (SELECT CAST(COUNT(DISTINCT BrowserCountry) AS BIGINT) AS d_country FROM hits)
CROSS JOIN (SELECT CAST(COUNT(DISTINCT BrowserLanguage) AS BIGINT) AS d_lang FROM hits)""")
_cbx(2, """SELECT BrowserCountry,
CAST(COUNT(DISTINCT SocialNetwork) AS BIGINT) AS d_net,
CAST(COUNT(DISTINCT HitColor) AS BIGINT) AS d_color,
CAST(COUNT(DISTINCT BrowserLanguage) AS BIGINT) AS d_lang,
CAST(COUNT(DISTINCT SocialAction) AS BIGINT) AS d_action
FROM hits GROUP BY 1 ORDER BY 2 DESC, BrowserCountry LIMIT 10""")
# q3: STDDEV/VAR are sample stats on both engines; ROUND(.,6) + tiebreak
# because interpolated doubles differ in final ulps across engines.
_cbx(3, """SELECT SocialSourceNetworkID, RegionID, COUNT(*) AS c,
CAST(CAST(SUM(Age) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_age,
CAST(CAST(SUM(ParamPrice) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_price,
ROUND(STDDEV(CAST(ParamPrice AS DOUBLE)), 6) AS s,
ROUND(VARIANCE(CAST(ParamPrice AS DOUBLE)), 6) AS v
FROM hits GROUP BY SocialSourceNetworkID, RegionID
HAVING ROUND(STDDEV(CAST(ParamPrice AS DOUBLE)), 6) IS NOT NULL
ORDER BY s DESC, SocialSourceNetworkID, RegionID LIMIT 10""")
_cbx(4, """SELECT ClientIP, UserID, COUNT(*) AS c,
MIN(ResponseStartTiming) AS tmin,
ROUND(MEDIAN(CAST(ResponseStartTiming AS DOUBLE)), 6) AS tmed,
MAX(ResponseStartTiming) AS tmax
FROM hits WHERE JavaEnable = 0 GROUP BY ClientIP, UserID HAVING COUNT(*) > 1
ORDER BY tmed DESC, ClientIP, UserID LIMIT 10""",
    duck_body="""SELECT ClientIP, UserID, COUNT(*) AS c,
MIN(ResponseStartTiming) AS tmin,
ROUND(MEDIAN(CAST(ResponseStartTiming AS DOUBLE)), 6) AS tmed,
MAX(ResponseStartTiming) AS tmax
FROM hits WHERE JavaEnable = 0 GROUP BY ClientIP, UserID HAVING COUNT(*) > 1
ORDER BY tmed DESC, ClientIP, UserID LIMIT 10""")
_cbx(5, """SELECT ClientIP, UserID, COUNT(*) AS c,
MIN(ResponseStartTiming) AS tmin,
approx_percentile(ResponseStartTiming, 0.95, 100000) AS tp95,
MAX(ResponseStartTiming) AS tmax
FROM hits WHERE JavaEnable = 0 GROUP BY ClientIP, UserID HAVING COUNT(*) > 1
ORDER BY tp95 DESC, ClientIP, UserID LIMIT 10""",
    duck_body="""SELECT ClientIP, UserID, COUNT(*) AS c,
MIN(ResponseStartTiming) AS tmin,
quantile_disc(ResponseStartTiming, 0.95) AS tp95,
MAX(ResponseStartTiming) AS tmax
FROM hits WHERE JavaEnable = 0 GROUP BY ClientIP, UserID HAVING COUNT(*) > 1
ORDER BY tp95 DESC, ClientIP, UserID LIMIT 10""")
# q6: constants rescaled to the synthetic domains (resolution > 1000,
# model-% prefix, IN-list widened, lev < 4) so the filter keeps ~20 rows at
# sf0.01 instead of 0.
_Q6_SHARED = """SELECT COUNT(*) AS ShareCount FROM hits
WHERE IsMobile = 1 AND MobilePhoneModel LIKE 'model-%'
AND SocialAction IN ('share', 'like')
AND SocialSourceNetworkID IN (1, 2, 3, 4, 5, 6, 7, 8)
AND ClientTimeZone BETWEEN -11 AND 5
AND {REGEX}
AND CASE WHEN {DIGITS}
     THEN CAST(split_part(split_part(URL, 'resolution=', 2), '&', 1) AS INT)
     ELSE 0 END > 1000
AND levenshtein(CAST(UTMSource AS STRING), CAST(UTMCampaign AS STRING)) < 4"""
_cbx(6,
    _Q6_SHARED.format(
        REGEX="Referer RLIKE '/campaign/(spring|summer)_promo'",
        DIGITS="split_part(split_part(URL, 'resolution=', 2), '&', 1) RLIKE '^[0-9]+$'",
    ),
    duck_body=_Q6_SHARED.format(
        REGEX="regexp_matches(Referer, '/campaign/(spring|summer)_promo')",
        DIGITS="regexp_matches(split_part(split_part(URL, 'resolution=', 2), '&', 1), '^[0-9]+$')",
    ))
_cbx(7, """SELECT WatchID, MIN(ResolutionWidth) AS wmin, MAX(ResolutionWidth) AS wmax,
CAST(SUM(IsRefresh) AS BIGINT) AS srefresh
FROM hits GROUP BY WatchID ORDER BY WatchID DESC LIMIT 10""")
# q8: reference converts timing ints to timestamps to average intervals;
# the exact-integer average keeps identical semantics without FP drift.
_cbx(8, """SELECT RegionID, UserAgent, OS,
CAST(CAST(SUM(ResponseEndTiming - ResponseStartTiming) AS BIGINT) AS DOUBLE)
  / COUNT(*) AS avg_response_time,
CAST(CAST(SUM(ResponseEndTiming - ConnectTiming) AS BIGINT) AS DOUBLE)
  / COUNT(*) AS avg_latency
FROM hits GROUP BY RegionID, UserAgent, OS
ORDER BY avg_latency DESC, RegionID, UserAgent, OS LIMIT 10""")
# q9-q12: ordered FIRST_VALUE aggregate (reference first_last.rs) — Spark
# min_by over (EventTime, WatchID); WatchID tiebreak because EventTime has
# second-level ties.
_cbx(9, """SELECT MAX(len) AS max_len FROM (
  SELECT CAST(LENGTH(min_by(URL, struct(EventTime, WatchID))) AS BIGINT) AS len
  FROM hits GROUP BY UserID) t""",
    duck_body="""SELECT MAX(len) AS max_len FROM (
  SELECT CAST(LENGTH(first(URL ORDER BY EventTime, WatchID)) AS BIGINT) AS len
  FROM hits GROUP BY UserID) t""")
_cbx(10, """SELECT MAX(len) AS max_len FROM (
  SELECT CAST(LENGTH(min_by(URL, struct(EventTime, WatchID))) AS BIGINT) AS len
  FROM hits GROUP BY OS) t""",
    duck_body="""SELECT MAX(len) AS max_len FROM (
  SELECT CAST(LENGTH(first(URL ORDER BY EventTime, WatchID)) AS BIGINT) AS len
  FROM hits GROUP BY OS) t""")
_cbx(11, """SELECT MAX(fv) AS max_fv FROM (
  SELECT min_by(WatchID, struct(EventTime, WatchID)) AS fv
  FROM hits GROUP BY UserID) t""",
    duck_body="""SELECT MAX(fv) AS max_fv FROM (
  SELECT first(WatchID ORDER BY EventTime, WatchID) AS fv
  FROM hits GROUP BY UserID) t""")
_cbx(12, """SELECT MAX(fv) AS max_fv FROM (
  SELECT min_by(WatchID, struct(EventTime, WatchID)) AS fv
  FROM hits GROUP BY OS) t""",
    duck_body="""SELECT MAX(fv) AS max_fv FROM (
  SELECT first(WatchID ORDER BY EventTime, WatchID) AS fv
  FROM hits GROUP BY OS) t""")
_cbx(13, """SELECT CAST(SUM(CounterID) AS BIGINT) AS counter_id_sum
FROM hits WHERE URL < 'zzzz'""")
