"""Full ClickBench suite (43 queries) over a derived ``hits`` view.

Reference: benchmarks/queries/clickbench/queries/q0.sql..q42.sql — DataFusion's
ClickBench acceptance suite against the 105-column ``hits`` table.  The driver
testdata has no hits table, so ``hits`` is synthesized DETERMINISTICALLY from
``events`` with pure column algebra (modular arithmetic over event_id/user_id,
string concat) that Spark SQL and DuckDB evaluate bit-identically — both the
Spark plan and the DuckDB oracle share the same view text (dialect macros only
for epoch-seconds and regex backreferences).  Every query body below is the
reference query with these documented adaptations:

- column values are synthetic (distributions chosen so each query's filters
  remain selective: AdvEngineID ≠ 0 on ~9%% of rows, SearchPhrase ≠ '' on 25%%,
  URL contains 'google' on ~3/13, CounterID has 29 distinct values, ...)
- deterministic tiebreakers appended to every ORDER BY (cross-engine top-k
  ties; SURVEY §4 rule 6); q17's bare LIMIT gets an ORDER BY for the oracle
- HAVING/OFFSET thresholds scaled to the synthetic row counts (reference
  constants like `> 100000` select zero groups below sf1)
- AVG(x) rewritten as exact CAST(SUM(x) AS DOUBLE)/COUNT so both engines
  aggregate order-independently; integer SUMs CAST AS BIGINT (DuckDB returns
  HUGEINT)

Scale design: the hits projection is scan-side column algebra (no shuffle, no
UDF); every aggregation keeps the partial-agg → single shuffle shape ClickBench
exercises; top-k are TakeOrderedAndProject, never global sorts.
"""

from __future__ import annotations

import re

from datafusion_spark.queries.registry import Plan, query, table_statement

# Shared hits projection.  {EPOCH} = seconds-since-epoch of ts as BIGINT
# (dialect macro); {SRC} = the events relation name.
_HITS_TEMPLATE = """
SELECT
  (event_id * 1000003) % 100000007            AS WatchID,
  event_id % 29                               AS CounterID,
  {EPOCH}                                     AS EventTime,
  CAST(ts AS DATE)                            AS EventDate,
  user_id                                     AS UserID,
  user_id % 111                               AS RegionID,
  CASE WHEN event_id % 11 = 0 THEN 1 + event_id % 4 ELSE 0 END
                                              AS AdvEngineID,
  CASE WHEN event_id % 5 < 2 THEN 1 + event_id % 7 ELSE 0 END
                                              AS SearchEngineID,
  CASE WHEN event_id % 4 = 0
       THEN concat('phrase ', CAST(user_id % 211 AS STRING))
       ELSE '' END                            AS SearchPhrase,
  user_id % 9                                 AS MobilePhone,
  CASE WHEN user_id % 6 = 0
       THEN concat('model-', CAST(user_id % 23 AS STRING))
       ELSE '' END                            AS MobilePhoneModel,
  concat('http://',
         CASE event_id % 13
           WHEN 0 THEN 'www.google.com'
           WHEN 1 THEN 'mail.google.ru'
           WHEN 2 THEN 'googleapps.example.org'
           ELSE concat('site', CAST(event_id % 29 AS STRING), '.example.com')
         END,
         '/', event_type, '/page', CAST(event_id % 500 AS STRING),
         '?resolution=', CAST(800 + (event_id % 20) * 40 AS STRING), '&x=1')
                                              AS URL,
  CASE WHEN event_id % 7 = 0
       THEN concat('Google Search ', CAST(event_id % 37 AS STRING))
       ELSE concat('Page ', CAST(event_id % 53 AS STRING)) END
                                              AS Title,
  CASE WHEN event_id % 3 = 0
       THEN concat('http://www.ref', CAST(event_id % 19 AS STRING), '.com/',
                   CASE WHEN event_id % 2 = 0
                        THEN concat('campaign/',
                                    CASE WHEN event_id % 4 = 0 THEN 'spring'
                                         ELSE 'summer' END, '_promo')
                        ELSE concat('path/', CAST(event_id % 100 AS STRING))
                   END)
       WHEN event_id % 3 = 1
       THEN concat('https://ref', CAST(event_id % 11 AS STRING), '.org/x')
       ELSE '' END                            AS Referer,
  800 + (event_id % 20) * 40                  AS ResolutionWidth,
  167772160 + (user_id * 37) % 10000000       AS ClientIP,
  CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS IsRefresh,
  CASE WHEN event_id % 14 = 0 THEN 1 ELSE 0 END AS DontCountHits,
  CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END  AS IsLink,
  CASE WHEN event_id % 33 = 0 THEN 1 ELSE 0 END AS IsDownload,
  (event_id % 9) - 1                          AS TraficSourceID,
  ((event_id % 37) * 2654435) % 999999937     AS URLHash,
  ((event_id % 7) * 271828) % 999999937       AS RefererHash,
  1000 + user_id % 400                        AS WindowClientWidth,
  600 + user_id % 300                         AS WindowClientHeight,
  CASE user_id % 4 WHEN 0 THEN 'W' WHEN 1 THEN 'G' WHEN 2 THEN 'B'
       ELSE 'R' END                           AS HitColor,
  concat('BC_', CAST(user_id % 13 AS STRING)) AS BrowserCountry,
  concat('bl_', CAST(user_id % 9 AS STRING))  AS BrowserLanguage,
  CASE event_id % 6 WHEN 0 THEN 'tw' WHEN 1 THEN 'fb' WHEN 2 THEN 'vk'
       ELSE '' END                            AS SocialNetwork,
  CASE event_id % 5 WHEN 0 THEN 'share' WHEN 1 THEN 'like'
       ELSE '' END                            AS SocialAction,
  event_id % 13                               AS SocialSourceNetworkID,
  18 + user_id % 48                           AS Age,
  (event_id % 997) * 10                       AS ParamPrice,
  event_id % 400                              AS ResponseStartTiming,
  (event_id % 400) + 100 + (user_id % 300)    AS ResponseEndTiming,
  event_id % 50                               AS ConnectTiming,
  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS JavaEnable,
  CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS IsMobile,
  (user_id % 24) - 11                         AS ClientTimeZone,
  concat('src', CAST(event_id % 7 AS STRING)) AS UTMSource,
  concat('sr', CAST(user_id % 7 AS STRING), 'x') AS UTMCampaign,
  user_id % 7                                 AS UserAgent,
  concat('os', CAST(user_id % 3 AS STRING))   AS OS
FROM {SRC}
"""


def _hits_select(dialect: str) -> str:
    if dialect == "spark":
        return _HITS_TEMPLATE.format(EPOCH="unix_timestamp(ts)", SRC="events_cb")
    return _HITS_TEMPLATE.format(EPOCH="(epoch_ms(ts) // 1000)", SRC="events")


def _split_hits_columns(select_text: str) -> list[tuple[str, str]]:
    """Split a rendered hits SELECT into verbatim (alias, expr_chunk) pairs.

    Chunks are top-level comma splits (paren-depth tracked; every comma
    inside concat/CASE/CAST sits at depth > 0 in the template) kept
    byte-verbatim, so ``",".join(chunks)`` reconstructs the original text
    exactly — pinned in tests/test_plans.py."""
    head, _, tail = select_text.partition("SELECT")
    body, sep, src = tail.rpartition("\nFROM ")
    chunks, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            chunks.append(body[start:i])
            start = i + 1
    chunks.append(body[start:])
    out = []
    for c in chunks:
        m = re.search(r"\bAS\s+(\w+)\s*$", c)
        if not m:
            raise ValueError(f"hits column chunk without alias: {c!r}")
        out.append((m.group(1), c))
    return out


_HITS_SPARK_FULL = _hits_select("spark")
_HITS_SPARK_COLS = _split_hits_columns(_HITS_SPARK_FULL)


def _pruned_hits_spark(body: str) -> str:
    """Spark-side hits CTE containing only the columns the body references
    (word-boundary, case-insensitive — a false positive just keeps an extra
    column; a miss fails loudly with UNRESOLVED_COLUMN at analysis).  Same
    driver-side analysis-cost optimization as the TPC-DS prelude pruning
    (r12 §1): the full 44-column projection cost 130–160 ms of parse+
    analysis per run vs ~40 ms pruned, with identical physical plans
    (Catalyst pruned the columns anyway).  String literals are ignored (a
    regex's ``.*`` names no column), and a body that names no column
    (``SELECT COUNT(*)``) keeps the first one.  The DuckDB oracle text is
    NOT touched."""
    code = re.sub(r"'(?:[^'\\]|\\.)*'", "''", body)
    if re.search(r"\*", re.sub(r"(?i)count\s*\(\s*\*\s*\)", "", code)):
        # any '*' outside COUNT(*) (SELECT-star, hits.*, or arithmetic we
        # won't disambiguate) → keep every column
        return _HITS_SPARK_FULL
    kept = [c for a, c in _HITS_SPARK_COLS
            if re.search(rf"\b{a}\b", code, re.IGNORECASE)]
    return "SELECT" + ",".join(kept or [_HITS_SPARK_COLS[0][1]]) + "\nFROM events_cb\n"


def _cb(n: int, body: str, duck_body: str | None = None, tags: tuple = ()):
    """Register cb_qNN: Spark plan = SQL over the hits CTE on the events view;
    oracle = the same body over the DuckDB-dialect hits CTE."""
    spark_sql = f"WITH hits AS ({_pruned_hits_spark(body)})\n{body}"
    duck_sql = f"WITH hits AS ({_hits_select('duck')})\n{duck_body or body}"

    def fn(spark, sf_dir):
        return table_statement(spark, fn.plan.final, sf_dir, {"events_cb": "events"})

    fn.plan = Plan(spark_sql, spark_sql)
    fn.__name__ = f"cb_q{n:02d}"
    fn.__doc__ = f"ClickBench q{n} (reference benchmarks/queries/clickbench/queries/q{n}.sql)."
    query(f"cb_q{n:02d}", oracle=duck_sql, tags=("clickbench_full",) + tags)(fn)


_AVG_W = "CAST(CAST(SUM(ResolutionWidth) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_w"

_cb(0, "SELECT COUNT(*) AS c FROM hits")
_cb(1, "SELECT COUNT(*) AS c FROM hits WHERE AdvEngineID <> 0")
_cb(2, f"SELECT CAST(SUM(AdvEngineID) AS BIGINT) AS s, COUNT(*) AS c, {_AVG_W} FROM hits")
_cb(3, "SELECT CAST(CAST(SUM(UserID) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_u FROM hits")
_cb(4, "SELECT CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u FROM hits")
_cb(5, "SELECT CAST(COUNT(DISTINCT SearchPhrase) AS BIGINT) AS p FROM hits")
_cb(6, "SELECT MIN(EventDate) AS d0, MAX(EventDate) AS d1 FROM hits")
_cb(7, """SELECT AdvEngineID, COUNT(*) AS c FROM hits WHERE AdvEngineID <> 0
GROUP BY AdvEngineID ORDER BY c DESC, AdvEngineID""")
_cb(8, """SELECT RegionID, CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u FROM hits
GROUP BY RegionID ORDER BY u DESC, RegionID LIMIT 10""")
_cb(9, f"""SELECT RegionID, CAST(SUM(AdvEngineID) AS BIGINT) AS s, COUNT(*) AS c,
{_AVG_W}, CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u
FROM hits GROUP BY RegionID ORDER BY c DESC, RegionID LIMIT 10""")
_cb(10, """SELECT MobilePhoneModel, CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u
FROM hits WHERE MobilePhoneModel <> ''
GROUP BY MobilePhoneModel ORDER BY u DESC, MobilePhoneModel LIMIT 10""")
_cb(11, """SELECT MobilePhone, MobilePhoneModel, CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u
FROM hits WHERE MobilePhoneModel <> ''
GROUP BY MobilePhone, MobilePhoneModel ORDER BY u DESC, MobilePhone, MobilePhoneModel LIMIT 10""")
_cb(12, """SELECT SearchPhrase, COUNT(*) AS c FROM hits WHERE SearchPhrase <> ''
GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10""")
_cb(13, """SELECT SearchPhrase, CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u
FROM hits WHERE SearchPhrase <> ''
GROUP BY SearchPhrase ORDER BY u DESC, SearchPhrase LIMIT 10""", tags=("bench",))
_cb(14, """SELECT SearchEngineID, SearchPhrase, COUNT(*) AS c FROM hits
WHERE SearchPhrase <> ''
GROUP BY SearchEngineID, SearchPhrase ORDER BY c DESC, SearchEngineID, SearchPhrase LIMIT 10""")
_cb(15, """SELECT UserID, COUNT(*) AS c FROM hits
GROUP BY UserID ORDER BY c DESC, UserID LIMIT 10""")
_cb(16, """SELECT UserID, SearchPhrase, COUNT(*) AS c FROM hits
GROUP BY UserID, SearchPhrase ORDER BY c DESC, UserID, SearchPhrase LIMIT 10""")
# q17: reference is LIMIT-without-ORDER (nondeterministic row set); ordered here
# so the cross-engine hash compare is meaningful.
_cb(17, """SELECT UserID, SearchPhrase, COUNT(*) AS c FROM hits
GROUP BY UserID, SearchPhrase ORDER BY UserID, SearchPhrase LIMIT 10""")
_cb(18, """SELECT UserID, CAST(EXTRACT(MINUTE FROM timestamp_seconds(EventTime)) AS BIGINT) AS m,
SearchPhrase, COUNT(*) AS c FROM hits
GROUP BY 1, 2, 3 ORDER BY c DESC, UserID, m, SearchPhrase LIMIT 10""",
    duck_body="""SELECT UserID, CAST(EXTRACT(MINUTE FROM timezone('UTC', to_timestamp(EventTime))) AS BIGINT) AS m,
SearchPhrase, COUNT(*) AS c FROM hits
GROUP BY 1, 2, 3 ORDER BY c DESC, UserID, m, SearchPhrase LIMIT 10""")
_cb(19, "SELECT UserID FROM hits WHERE UserID = 42")
_cb(20, "SELECT COUNT(*) AS c FROM hits WHERE URL LIKE '%google%'")
_cb(21, """SELECT SearchPhrase, MIN(URL) AS min_url, COUNT(*) AS c FROM hits
WHERE URL LIKE '%google%' AND SearchPhrase <> ''
GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10""")
_cb(22, """SELECT SearchPhrase, MIN(URL) AS min_url, MIN(Title) AS min_title, COUNT(*) AS c,
CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u FROM hits
WHERE Title LIKE '%Google%' AND URL NOT LIKE '%.google.%' AND SearchPhrase <> ''
GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10""")
_cb(23, """SELECT * FROM hits WHERE URL LIKE '%google%'
ORDER BY EventTime, WatchID LIMIT 10""")
_cb(24, """SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
ORDER BY EventTime, WatchID LIMIT 10""")
_cb(25, """SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
ORDER BY SearchPhrase, WatchID LIMIT 10""")
_cb(26, """SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
ORDER BY EventTime, SearchPhrase, WatchID LIMIT 10""")
# q27/q28: HAVING > 100000 scaled to > 100 (synthetic group sizes ~n/29);
# octet_length -> LENGTH (ASCII-only synthetic strings, bytes == chars).
_cb(27, """SELECT CounterID, CAST(CAST(SUM(LENGTH(URL)) AS BIGINT) AS DOUBLE) / COUNT(*) AS l,
COUNT(*) AS c FROM hits WHERE URL <> ''
GROUP BY CounterID HAVING COUNT(*) > 100 ORDER BY l DESC, CounterID LIMIT 25""")
_cb(28, r"""SELECT REGEXP_REPLACE(Referer, '^https?://(?:www\.)?([^/]+)/.*$', '$1') AS k,
CAST(CAST(SUM(LENGTH(Referer)) AS BIGINT) AS DOUBLE) / COUNT(*) AS l,
COUNT(*) AS c, MIN(Referer) AS min_ref FROM hits WHERE Referer <> ''
GROUP BY 1 HAVING COUNT(*) > 100 ORDER BY l DESC, k LIMIT 25""",
    duck_body=r"""SELECT REGEXP_REPLACE(Referer, '^https?://(?:www\.)?([^/]+)/.*$', '\1') AS k,
CAST(CAST(SUM(LENGTH(Referer)) AS BIGINT) AS DOUBLE) / COUNT(*) AS l,
COUNT(*) AS c, MIN(Referer) AS min_ref FROM hits WHERE Referer <> ''
GROUP BY 1 HAVING COUNT(*) > 100 ORDER BY l DESC, k LIMIT 25""")
_cb(29, "SELECT "
    + ", ".join(
        f"CAST(SUM(ResolutionWidth + {k}) AS BIGINT) AS s{k}" for k in range(90)
    )
    + " FROM hits", tags=("bench",))
_cb(30, """SELECT SearchEngineID, ClientIP, COUNT(*) AS c,
CAST(SUM(IsRefresh) AS BIGINT) AS sr, """ + _AVG_W + """
FROM hits WHERE SearchPhrase <> ''
GROUP BY SearchEngineID, ClientIP ORDER BY c DESC, SearchEngineID, ClientIP LIMIT 10""")
_cb(31, """SELECT WatchID, ClientIP, COUNT(*) AS c,
CAST(SUM(IsRefresh) AS BIGINT) AS sr, """ + _AVG_W + """
FROM hits WHERE SearchPhrase <> ''
GROUP BY WatchID, ClientIP ORDER BY c DESC, WatchID, ClientIP LIMIT 10""")
_cb(32, """SELECT WatchID, ClientIP, COUNT(*) AS c,
CAST(SUM(IsRefresh) AS BIGINT) AS sr, """ + _AVG_W + """
FROM hits GROUP BY WatchID, ClientIP ORDER BY c DESC, WatchID, ClientIP LIMIT 10""",
    tags=("bench",))
_cb(33, """SELECT URL, COUNT(*) AS c FROM hits
GROUP BY URL ORDER BY c DESC, URL LIMIT 10""", tags=("bench",))
_cb(34, """SELECT 1 AS one, URL, COUNT(*) AS c FROM hits
GROUP BY 1, 2 ORDER BY c DESC, URL LIMIT 10""")
_cb(35, """SELECT ClientIP, ClientIP - 1 AS ip1, ClientIP - 2 AS ip2, ClientIP - 3 AS ip3,
COUNT(*) AS c FROM hits
GROUP BY 1, 2, 3, 4 ORDER BY c DESC, ClientIP LIMIT 10""")
# q36-q42: CounterID = 62 -> 13 (29 synthetic counters), 2013-07 dates -> the
# synthetic 2024-01 range, OFFSETs scaled (1000/10000 -> 10/5) so the gate
# at sf0.01 still verifies non-empty results.
_CTR = "CounterID = 13"
_WEEKS = "EventDate >= DATE '2024-01-08' AND EventDate <= DATE '2024-01-21'"
_cb(36, f"""SELECT URL, COUNT(*) AS PageViews FROM hits
WHERE {_CTR} AND {_WEEKS} AND DontCountHits = 0 AND IsRefresh = 0 AND URL <> ''
GROUP BY URL ORDER BY PageViews DESC, URL LIMIT 10""")
_cb(37, f"""SELECT Title, COUNT(*) AS PageViews FROM hits
WHERE {_CTR} AND {_WEEKS} AND DontCountHits = 0 AND IsRefresh = 0 AND Title <> ''
GROUP BY Title ORDER BY PageViews DESC, Title LIMIT 10""")
_cb(38, f"""SELECT URL, COUNT(*) AS PageViews FROM hits
WHERE {_CTR} AND {_WEEKS} AND IsRefresh = 0 AND IsLink <> 0 AND IsDownload = 0
GROUP BY URL ORDER BY PageViews DESC, URL LIMIT 10 OFFSET 10""")
_cb(39, f"""SELECT TraficSourceID, SearchEngineID, AdvEngineID,
CASE WHEN SearchEngineID = 0 AND AdvEngineID = 0 THEN Referer ELSE '' END AS Src,
URL AS Dst, COUNT(*) AS PageViews FROM hits
WHERE {_CTR} AND {_WEEKS} AND IsRefresh = 0
GROUP BY 1, 2, 3, 4, 5
ORDER BY PageViews DESC, TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst
LIMIT 10 OFFSET 10""")
_cb(40, f"""SELECT URLHash, EventDate, COUNT(*) AS PageViews FROM hits
WHERE {_CTR} AND IsRefresh = 0 AND TraficSourceID IN (-1, 6) AND RefererHash = 815484
GROUP BY 1, 2 ORDER BY PageViews DESC, URLHash, EventDate LIMIT 10 OFFSET 5""")
_cb(41, f"""SELECT WindowClientWidth, WindowClientHeight, COUNT(*) AS PageViews FROM hits
WHERE {_CTR} AND IsRefresh = 0 AND DontCountHits = 0 AND URLHash = 13272175
GROUP BY 1, 2 ORDER BY PageViews DESC, WindowClientWidth, WindowClientHeight
LIMIT 10 OFFSET 5""")
_Q42_FILTER = (
    f"{_CTR} AND EventDate >= DATE '2024-01-10' AND EventDate <= DATE '2024-01-11'"
    " AND IsRefresh = 0 AND DontCountHits = 0"
)
_cb(42, f"""SELECT DATE_TRUNC('minute', timestamp_seconds(EventTime)) AS M, COUNT(*) AS PageViews
FROM hits WHERE {_Q42_FILTER}
GROUP BY 1 ORDER BY M LIMIT 10 OFFSET 5""",
    duck_body=f"""SELECT DATE_TRUNC('minute', timezone('UTC', to_timestamp(EventTime))) AS M, COUNT(*) AS PageViews
FROM hits WHERE {_Q42_FILTER}
GROUP BY 1 ORDER BY M LIMIT 10 OFFSET 5""", tags=("bench",))
