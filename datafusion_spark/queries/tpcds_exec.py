"""All 99 TPC-DS queries executed on deterministically derived tables.

The reference only PLANS TPC-DS (see tpcds_planning.py); this module
executes every query, as 103 entries (``tpcds_qN``; the second statements
of q14/q23/q24/q39 are ``tpcds_qNb``), with value-checked results.  It
uses the technique of the official-schema TPC-H track (tpch_official.py):
every TPC-DS column is a DETERMINISTIC function of the synthetic TPC-H
testdata, spelled alike in Spark (_SPARK_DERIVE) and in the DuckDB oracle
(_DUCK_DERIVE), so both engines derive identical inputs at any scale
factor.  For example, store_sales is one row per lineitem keyed by its
order date, web_sales and catalog_sales are disjoint deterministic
channel subsets of the same fact, and date_dim spans 1995-01-01 to
2001-12-31 (the order calendar ends 2001-08).  Money is stored as TPC-DS
types it, as decimals: each money column is the narrowest DECIMAL(p,2)
that holds it (_m), so a reference ``sum`` of money is exact in both
engines as written, and on Spark's long-backed decimal path.

Bodies.  A generated entry (_EDITS) is its reference statement from
tpcds_sql/ plus an edit list: each ``Edit`` replaces a stated number of
occurrences of a substring and says why, and an edit that no longer
applies fails at import.  The edits are of a few kinds: exact averages
and DOUBLE quotients of exact sums (the engines round a decimal average
or quotient differently), exact sums of a DOUBLE quantity times a price
(the house rule, helpers.sql_dsum), plain column names for unnamed or
quoted-alias outputs, integer types alike in both engines, explicit NULLS
FIRST under a LIMIT, and constants retargeted into the derived domains.
Two entries in _HAND keep a hand-written body, with the reason there: q41
(a Spark limitation) and q72 (measured faster).  The DuckDB oracle runs
``_DUCK_DERIVE + body``; the entry runs the same body over the stored
star (below), its DECIMAL outputs cast to DOUBLE (_doubled).

Execution: the derived tables are stored once per SF (the star).  On
first use for an SF, each of the 24 derive CTEs of _SPARK_DERIVE is
written, as its own SELECT over the base views, under
``spark-warehouse/derived_tpcds/<sf basename>/<key>/`` (key: a digest of
the source tables' mtime_ns and of the derive text); the directory is
published by renaming a complete temp directory, so a half-written star
is never read.  The tables are registered once per session and key as
views ``tpcds_<table>``, names no TPC-H view uses.  Every entry runs
``fn.plan.final``: one-line alias CTEs for the tables its body reads
(``customer AS (SELECT * FROM tpcds_customer)``), then the body verbatim.
The three returns tables are the exception: the body reads them as views
under their own names, which carry Spark's no-broadcast join hint, so a
returns table is never a broadcast build side (see _RETURNS).  Deleting
the star's directory makes the next call write it again.
``fn.plan.inline`` is the body under the derive prelude itself, the
reference the stored == derived row pin compares against.  Two entries
run an equivalent spelling that is faster at .scale/sf1: q64 and q67 (see
_respell).  Every entry is one statement.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql.types import DecimalType

from datafusion_spark.catalog import (
    TABLES,
    _mtime_ns,
    app_id,
    bind_views,
    cached_parquet,
    register_views,
    repo_root,
)
from datafusion_spark.queries.helpers import sql_dec, sql_dsum
from datafusion_spark.queries.registry import QUERIES, Plan, query, statement
from datafusion_spark.queries.tpcds_planning import reference_statements

_DATE_LO, _DATE_HI = "1995-01-01", "2001-12-31"


def _date_sk(d: str) -> str:
    """The derive's date key of the DATE expression ``d``: days since
    1992-01-01 plus 2450000, so keys grow with dates."""
    return f"datediff({d}, DATE '1992-01-01') + 2450000"


# The base money values at cents (DOUBLE in the base tables, exact at two
# decimals) and the quantity, as the decimals the star's money is computed
# from.  Each bound is the data generator's domain.
_CENTS = {
    "E": "CAST(l_extendedprice AS DECIMAL(8,2))",  # 900.00 to 104,999.99
    "T": "CAST(l_tax AS DECIMAL(2,2))",  # 0.00 to 0.08
    "D": "CAST(l_discount AS DECIMAL(2,2))",  # 0.00 to 0.10
    "Q": "CAST(l_quantity AS DECIMAL(2,0))",  # 1 to 50
    "P": "CAST(p_retailprice AS DECIMAL(5,2))",  # 900.00 to 999.90
}


def _m(expr: str, p: int) -> str:
    """A star money column: ``expr`` over the _CENTS letters, computed in
    decimal arithmetic, rounded half up to cents and stored as
    DECIMAL(p,2), p the fewest digits its domain needs.  Both engines round
    a positive decimal alike, so both derives store the same cents; a value
    that outgrows p fails the derive (an ANSI cast error), never wraps.
    p <= 8 keeps Spark's SUM at 18 digits or fewer, on its long-backed
    path."""
    expr = re.sub(r"\b[EPTDQ]\b", lambda m: _CENTS[m.group()], expr)
    return f"CAST(ROUND({expr}, 2) AS DECIMAL({p},2))"


_SPARK_DERIVE = f"""
WITH date_dim AS (
  SELECT CAST(d AS DATE) AS d_date,
         {_date_sk("CAST(d AS DATE)")} AS d_date_sk,
         CAST(year(d) AS BIGINT) AS d_year,
         CAST(month(d) AS BIGINT) AS d_moy,
         CAST(day(d) AS BIGINT) AS d_dom,
         CAST(1200 + (year(d) - 1992) * 12 + month(d) - 1 AS INT)
             AS d_month_seq,
         CAST((datediff(CAST(d AS DATE), DATE '1992-01-01') + 3) % 7 AS INT)
             AS d_dow,
         CAST((month(d) - 1) div 3 + 1 AS INT) AS d_qoy,
         date_format(CAST(d AS DATE), 'EEEE') AS d_day_name,
         CAST(year(d) AS STRING) || 'Q' ||
             CAST((month(d) - 1) div 3 + 1 AS STRING) AS d_quarter_name,
         CAST((datediff(CAST(d AS DATE), DATE '1992-01-01') + 3) div 7
              + 5270 AS INT) AS d_week_seq
  FROM (SELECT explode(sequence(DATE '{_DATE_LO}', DATE '{_DATE_HI}',
                                INTERVAL 1 DAY)) AS d)
),
item AS (
  SELECT p_partkey AS i_item_sk,
         p_brand AS i_brand,
         CAST(substr(p_brand, 7) AS INT) AS i_brand_id,
         p_type AS i_category,
         CAST(p_size % 10 + 1 AS INT) AS i_category_id,
         CAST(p_partkey % 500 AS INT) AS i_manufact_id,
         CAST(p_partkey % 40 + 1 AS INT) AS i_manager_id,
         'I' || lpad(CAST(p_partkey AS STRING), 9, '0') AS i_item_id,
         p_name AS i_item_desc,
         'CLASS#' || CAST(p_partkey % 7 AS STRING) AS i_class,
         CAST(p_partkey % 7 + 1 AS INT) AS i_class_id,
         'MFG#' || CAST(p_partkey % 500 AS STRING) AS i_manufact,
         CASE p_partkey % 8 WHEN 0 THEN 'orchid' WHEN 1 THEN 'chiffon'
              WHEN 2 THEN 'lace' WHEN 3 THEN 'navy' WHEN 4 THEN 'salmon'
              WHEN 5 THEN 'peru' WHEN 6 THEN 'ivory'
              ELSE 'slate' END AS i_color,
         {_m("P", 5)} AS i_current_price,
         {_m("P * 0.6", 5)} AS i_wholesale_cost,
         p_name AS i_product_name,
         CASE p_partkey % 6 WHEN 0 THEN 'Pound' WHEN 1 THEN 'Lb'
              WHEN 2 THEN 'Each' WHEN 3 THEN 'Oz' WHEN 4 THEN 'Box'
              ELSE 'Unknown' END AS i_units,
         CASE p_size % 5 WHEN 0 THEN 'petite' WHEN 1 THEN 'medium'
              WHEN 2 THEN 'small' WHEN 3 THEN 'large'
              ELSE 'N/A' END AS i_size
  FROM part
),
store_sales AS (
  SELECT {_date_sk("CAST(o_orderdate AS DATE)")}
             AS ss_sold_date_sk,
         l_partkey AS ss_item_sk,
         {_m("E", 8)} AS ss_ext_sales_price,
         CAST((l_orderkey * 7 + l_linenumber * 4973) % 86400 AS INT)
             AS ss_sold_time_sk,
         CASE WHEN (l_orderkey * 13 + l_linenumber) % 47 = 0 THEN NULL
              ELSE CAST(o_custkey % 7200 + 1 AS INT) END AS ss_hdemo_sk,
         CAST(l_suppkey % 10 + 1 AS INT) AS ss_store_sk,
         l_orderkey AS ss_ticket_number,
         o_custkey AS ss_customer_sk,
         CASE WHEN (l_orderkey * 31 + l_linenumber) % 37 = 0 THEN NULL
              ELSE o_custkey + l_linenumber % 2 END AS ss_addr_sk,
         {_m("E + T", 8)} AS ss_ext_list_price,
         {_m("T", 2)} AS ss_ext_tax,
         {_m("E - Q", 8)} AS ss_net_profit,
         CAST((o_custkey + l_linenumber * 7) % 1000 + 1 AS INT) AS ss_cdemo_sk,
         CAST(l_partkey % 300 + 1 AS INT) AS ss_promo_sk,
         l_quantity AS ss_quantity,
         {_m("E", 8)} AS ss_list_price,
         {_m("E * 0.6", 7)} AS ss_ext_wholesale_cost,
         {_m("E * 0.006", 5)} AS ss_wholesale_cost,
         {_m("D * Q", 3)} AS ss_ext_discount_amt,
         {_m("E - D", 8)} AS ss_net_paid,
         {_m("D", 2)} AS ss_coupon_amt,
         {_m("T", 2)} AS ss_sales_price
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
),
time_dim AS (
  SELECT id AS t_time_sk, id AS t_time, CAST(id div 3600 AS INT) AS t_hour,
         CAST((id % 3600) div 60 AS INT) AS t_minute,
         CAST(id % 60 AS INT) AS t_second,
         CASE WHEN id >= 6*3600 AND id < 9*3600 THEN 'breakfast'
              WHEN id >= 17*3600 AND id < 20*3600 THEN 'dinner'
              ELSE NULL END AS t_meal_time
  FROM (SELECT explode(sequence(0, 86399)) AS id)
),
household_demographics AS (
  SELECT id AS hd_demo_sk, CAST(id % 10 AS INT) AS hd_dep_count,
         CAST(id % 20 + 1 AS INT) AS hd_income_band_sk,
         CASE id % 5 WHEN 0 THEN '>10000' WHEN 1 THEN '5001-10000'
                     WHEN 2 THEN '1001-5000' WHEN 3 THEN '501-1000'
                     ELSE '0-500' END AS hd_buy_potential,
         CAST(id % 5 AS INT) AS hd_vehicle_count
  FROM (SELECT explode(sequence(1, 7200)) AS id)
),
store AS (
  SELECT id AS s_store_sk, 'store_' || CAST(id AS STRING) AS s_store_name,
         'S' || lpad(CAST(id AS STRING), 4, '0') AS s_store_id,
         'Company_' || CAST(id % 3 AS STRING) AS s_company_name,
         CAST(id % 3 AS INT) AS s_company_id,
         CAST(id * 7 AS STRING) AS s_street_number,
         CASE id % 4 WHEN 0 THEN 'Main' WHEN 1 THEN 'Oak'
              WHEN 2 THEN 'Cedar' ELSE 'Elm' END AS s_street_name,
         CASE id % 3 WHEN 0 THEN 'St' WHEN 1 THEN 'Ave'
              ELSE 'Blvd' END AS s_street_type,
         'Suite ' || CAST(id * 10 AS STRING) AS s_suite_number,
         CASE id % 5 WHEN 0 THEN 'SD' WHEN 1 THEN 'MO' WHEN 2 THEN 'GA'
              WHEN 3 THEN 'AL' ELSE 'TN' END AS s_state,
         CAST(CASE WHEN id % 2 = 0 THEN -6 ELSE -7 END AS INT)
             AS s_gmt_offset,
         lpad(CAST(id % 97 * 131 AS STRING), 5, '0') || '-' ||
             CAST(id % 13 AS STRING) AS s_zip,
         CAST(id % 3 + 6 AS INT) AS s_market_id,
         CAST(150 + id * 15 AS INT) AS s_number_employees,
         CASE id % 5 WHEN 0 THEN 'Oakland' WHEN 1 THEN 'Riverside'
             WHEN 2 THEN 'Georgetown' WHEN 3 THEN 'Springfield'
             ELSE 'Fairview' END AS s_city,
         CASE id % 10 WHEN 0 THEN 'Daviess County'
             WHEN 1 THEN 'Franklin Parish' WHEN 2 THEN 'Barrow County'
             WHEN 3 THEN 'Luce County' WHEN 4 THEN 'Fairfield County'
             WHEN 5 THEN 'Richland County' WHEN 6 THEN 'Ziebach County'
             WHEN 7 THEN 'Walker County' WHEN 8 THEN 'Other County A'
             ELSE 'Other County B' END AS s_county
  FROM (SELECT explode(sequence(1, 10)) AS id)
),
customer_address AS (
  SELECT c_custkey AS ca_address_sk,
         lpad(CAST(c_custkey % 97 * 131 AS STRING), 5, '0') || '-' ||
             CAST(c_custkey % 13 AS STRING) AS ca_zip,
         'city_' || CAST(c_custkey % 19 AS STRING) AS ca_city,
         CASE c_custkey % 7 WHEN 0 THEN 'CA' WHEN 1 THEN 'WA'
              WHEN 2 THEN 'GA' WHEN 3 THEN 'TX' WHEN 4 THEN 'NY'
              WHEN 5 THEN 'OH' ELSE 'FL' END AS ca_state,
         'county_' || CAST(c_custkey % 11 AS STRING) AS ca_county,
         'United States' AS ca_country,
         CAST(c_custkey % 999 + 1 AS STRING) AS ca_street_number,
         CASE c_custkey % 4 WHEN 0 THEN 'Main' WHEN 1 THEN 'Oak'
              WHEN 2 THEN 'Cedar' ELSE 'Elm' END AS ca_street_name,
         CASE c_custkey % 3 WHEN 0 THEN 'St' WHEN 1 THEN 'Ave'
              ELSE 'Blvd' END AS ca_street_type,
         'Suite ' || CAST(c_custkey % 90 AS STRING) AS ca_suite_number,
         CASE c_custkey % 3 WHEN 0 THEN 'apartment' WHEN 1 THEN 'condo'
              ELSE 'single family' END AS ca_location_type,
         CAST(-8 + c_custkey % 3 AS INT) AS ca_gmt_offset
  FROM customer
),
customer AS (
  SELECT c_custkey AS c_customer_sk,
         'C' || lpad(CAST(c_custkey AS STRING), 15, '0') AS c_customer_id,
         'CF' || CAST(c_custkey % 97 AS STRING) AS c_first_name,
         'CL' || CAST(c_custkey % 701 AS STRING) AS c_last_name,
         CASE c_custkey % 6 WHEN 0 THEN 'Mr.' WHEN 1 THEN 'Mrs.'
              WHEN 2 THEN 'Ms.' WHEN 3 THEN 'Dr.' WHEN 4 THEN 'Miss'
              ELSE 'Sir' END AS c_salutation,
         CASE WHEN c_custkey % 2 = 0 THEN 'Y' ELSE 'N' END
             AS c_preferred_cust_flag,
         'COUNTRY_' || CAST(c_custkey % 20 AS STRING) AS c_birth_country,
         'login_' || CAST(c_custkey % 53 AS STRING) AS c_login,
         'e' || CAST(c_custkey AS STRING) || '@example.com'
             AS c_email_address,
         CAST(c_custkey % 28 + 1 AS INT) AS c_birth_day,
         CAST(c_custkey % 12 + 1 AS INT) AS c_birth_month,
         CAST(1924 + c_custkey % 70 AS INT) AS c_birth_year,
         CAST(2450000 + c_custkey % 2500 AS INT) AS c_last_review_date_sk,
         CAST(2451096 + c_custkey % 2400 AS INT) AS c_first_sales_date_sk,
         CAST(2451096 + c_custkey % 2400 + 30 AS INT)
             AS c_first_shipto_date_sk,
         CAST(c_custkey % 1000 + 1 AS INT) AS c_current_cdemo_sk,
         CAST((c_custkey * 7 + 3) % 7200 + 1 AS INT) AS c_current_hdemo_sk,
         c_custkey AS c_current_addr_sk
  FROM customer
),
customer_demographics AS (
  SELECT id AS cd_demo_sk,
         CASE WHEN id % 2 = 0 THEN 'F' ELSE 'M' END AS cd_gender,
         CASE id % 5 WHEN 0 THEN 'S' WHEN 1 THEN 'M' WHEN 2 THEN 'W'
                     WHEN 3 THEN 'D' ELSE 'U' END AS cd_marital_status,
         CASE id % 7 WHEN 0 THEN 'Primary' WHEN 1 THEN 'Secondary'
                     WHEN 2 THEN 'College' WHEN 3 THEN '2 yr Degree'
                     WHEN 4 THEN '4 yr Degree' WHEN 5 THEN 'Advanced Degree'
                     ELSE 'Unknown' END AS cd_education_status,
         CAST(id % 20 * 500 + 500 AS INT) AS cd_purchase_estimate,
         CASE id % 4 WHEN 0 THEN 'Low Risk' WHEN 1 THEN 'Good'
              WHEN 2 THEN 'High Risk' ELSE 'Unknown' END AS cd_credit_rating,
         CAST(id % 7 AS INT) AS cd_dep_count,
         CAST(id % 5 AS INT) AS cd_dep_employed_count,
         CAST(id % 3 AS INT) AS cd_dep_college_count
  FROM (SELECT explode(sequence(1, 1000)) AS id)
),
promotion AS (
  SELECT id AS p_promo_sk,
         CASE WHEN id % 3 = 0 THEN 'Y' ELSE 'N' END AS p_channel_email,
         CASE WHEN id % 5 = 0 THEN 'Y' ELSE 'N' END AS p_channel_event,
         CASE WHEN id % 4 = 0 THEN 'Y' ELSE 'N' END AS p_channel_dmail,
         CASE WHEN id % 7 = 0 THEN 'Y' ELSE 'N' END AS p_channel_tv
  FROM (SELECT explode(sequence(1, 300)) AS id)
),
catalog_page AS (
  SELECT id AS cp_catalog_page_sk,
         'CP' || lpad(CAST(id AS STRING), 5, '0') AS cp_catalog_page_id
  FROM (SELECT explode(sequence(1, 200)) AS id)
),
web_sales AS (
  SELECT {_date_sk("CAST(o_orderdate AS DATE)")}
             AS ws_sold_date_sk,
         l_partkey AS ws_item_sk,
         {_m("E", 8)} AS ws_ext_sales_price,
         o_custkey AS ws_bill_customer_sk,
         o_custkey + l_linenumber % 2 AS ws_bill_addr_sk,
         CAST((l_orderkey * 7 + l_linenumber * 4973) % 86400 AS INT)
             AS ws_sold_time_sk,
         {_m("T", 2)} AS ws_sales_price,
         l_quantity AS ws_quantity,
         {_date_sk("CAST(o_orderdate AS DATE)")}
             + CAST((l_orderkey * 11 + l_linenumber * 31) % 150 AS INT)
             AS ws_ship_date_sk,
         CAST(l_suppkey % 5 + 1 AS INT) AS ws_warehouse_sk,
         CAST(l_partkey % 20 + 1 AS INT) AS ws_ship_mode_sk,
         CAST(l_orderkey % 30 + 1 AS INT) AS ws_web_site_sk,
         {_m("E - D", 8)} AS ws_net_paid,
         {_m("E + T", 8)} AS ws_ext_list_price,
         {_m("E * 0.6", 7)} AS ws_ext_wholesale_cost,
         {_m("D * Q", 3)} AS ws_ext_discount_amt,
         l_orderkey AS ws_order_number,
         {_m("E * 0.02", 6)} AS ws_ext_ship_cost,
         CAST(l_partkey % 300 + 1 AS INT) AS ws_promo_sk,
         {_m("E", 8)} AS ws_list_price,
         {_m("E * 0.006", 5)} AS ws_wholesale_cost,
         {_m("E - D + T", 8)} AS ws_net_paid_inc_tax,
         o_custkey + l_linenumber % 2 AS ws_ship_addr_sk,
         CAST(o_custkey % 7200 + 1 AS INT) AS ws_ship_hdemo_sk,
         CASE WHEN (l_orderkey * 7 + l_linenumber) % 41 = 0 THEN NULL
              ELSE CAST(l_orderkey % 12 + 1 AS INT) END
             AS ws_web_page_sk,
         {_m("E - Q", 8)} AS ws_net_profit
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % 4 = 1
),
catalog_sales AS (
  SELECT {_date_sk("CAST(o_orderdate AS DATE)")}
             AS cs_sold_date_sk,
         l_partkey AS cs_item_sk,
         {_m("E", 8)} AS cs_ext_sales_price,
         CAST(o_custkey % 1000 + 1 AS INT) AS cs_bill_cdemo_sk,
         o_custkey AS cs_bill_customer_sk,
         o_custkey + l_linenumber % 2 AS cs_bill_addr_sk,
         CAST((l_orderkey * 7 + l_linenumber * 4973) % 86400 AS INT)
             AS cs_sold_time_sk,
         CAST(l_partkey % 300 + 1 AS INT) AS cs_promo_sk,
         l_quantity AS cs_quantity,
         {_m("E", 8)} AS cs_list_price,
         {_m("D", 2)} AS cs_coupon_amt,
         {_m("T", 2)} AS cs_sales_price,
         {_date_sk("CAST(o_orderdate AS DATE)")}
             + CAST((l_orderkey * 17 + l_linenumber * 43) % 150 AS INT)
             AS cs_ship_date_sk,
         CASE WHEN (l_orderkey * 11 + l_linenumber) % 43 = 0 THEN NULL
              ELSE CAST(l_suppkey % 5 + 1 AS INT) END
             AS cs_warehouse_sk,
         CAST(l_partkey % 20 + 1 AS INT) AS cs_ship_mode_sk,
         CAST(o_custkey % 6 + 1 AS INT) AS cs_call_center_sk,
         {_m("E - D", 8)} AS cs_net_paid,
         {_m("E - Q", 8)} AS cs_net_profit,
         l_orderkey AS cs_order_number,
         {_m("E * 0.02", 6)} AS cs_ext_ship_cost,
         o_custkey + l_linenumber % 2 AS cs_ship_addr_sk,
         o_custkey AS cs_ship_customer_sk,
         {_m("E + T", 8)} AS cs_ext_list_price,
         {_m("E * 0.6", 7)} AS cs_ext_wholesale_cost,
         {_m("D * Q", 3)} AS cs_ext_discount_amt,
         CAST((l_orderkey * 3 + l_partkey) % 200 + 1 AS INT)
             AS cs_catalog_page_sk,
         {_m("E * 0.006", 5)} AS cs_wholesale_cost,
         {_m("E - D + T", 8)} AS cs_net_paid_inc_tax,
         CAST((o_custkey * 31 + l_linenumber * 11) % 7200 + 1 AS INT)
             AS cs_bill_hdemo_sk
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % 4 = 2
),
warehouse AS (
  SELECT id AS w_warehouse_sk,
         'Warehouse number ' || CAST(id AS STRING) AS w_warehouse_name,
         CAST(10000 + id * 5000 AS INT) AS w_warehouse_sq_ft,
         CASE id % 5 WHEN 0 THEN 'Oakland' WHEN 1 THEN 'Riverside'
              WHEN 2 THEN 'Georgetown' WHEN 3 THEN 'Springfield'
              ELSE 'Fairview' END AS w_city,
         CASE id % 5 WHEN 0 THEN 'Daviess County'
              WHEN 1 THEN 'Franklin Parish' WHEN 2 THEN 'Barrow County'
              WHEN 3 THEN 'Luce County'
              ELSE 'Fairfield County' END AS w_county,
         'United States' AS w_country,
         CASE id % 5 WHEN 0 THEN 'CA' WHEN 1 THEN 'WA' WHEN 2 THEN 'TX'
              WHEN 3 THEN 'NY' ELSE 'GA' END AS w_state
  FROM (SELECT explode(sequence(1, 5)) AS id)
),
ship_mode AS (
  SELECT id AS sm_ship_mode_sk,
         CASE id % 5 WHEN 0 THEN 'DIAMOND' WHEN 1 THEN 'AIRBORNE'
              WHEN 2 THEN 'UPS' WHEN 3 THEN 'FEDEX'
              ELSE 'ZOUROS' END AS sm_carrier,
         CASE id % 5 WHEN 0 THEN 'EXPRESS' WHEN 1 THEN 'OVERNIGHT'
              WHEN 2 THEN 'REGULAR' WHEN 3 THEN 'TWO DAY'
              ELSE 'LIBRARY' END AS sm_type
  FROM (SELECT explode(sequence(1, 20)) AS id)
),
web_site AS (
  SELECT id AS web_site_sk,
         'WS' || lpad(CAST(id AS STRING), 4, '0') AS web_site_id,
         'site_' || CAST(id % 6 AS STRING) AS web_name,
         CASE WHEN id % 2 = 0 THEN 'pri' ELSE 'able' END
             AS web_company_name
  FROM (SELECT explode(sequence(1, 30)) AS id)
),
call_center AS (
  SELECT id AS cc_call_center_sk,
         'CC' || lpad(CAST(id AS STRING), 3, '0') AS cc_call_center_id,
         'Manager_' || CAST(id % 4 AS STRING) AS cc_manager,
         'call_center_' || CAST(id AS STRING) AS cc_name,
         CASE id % 5 WHEN 0 THEN 'Daviess County'
              WHEN 1 THEN 'Franklin Parish' WHEN 2 THEN 'Barrow County'
              WHEN 3 THEN 'Luce County'
              ELSE 'Fairfield County' END AS cc_county
  FROM (SELECT explode(sequence(1, 6)) AS id)
),
web_page AS (
  SELECT id AS wp_web_page_sk,
         CAST(4800 + id * 40 AS INT) AS wp_char_count
  FROM (SELECT explode(sequence(1, 12)) AS id)
),
income_band AS (
  SELECT id AS ib_income_band_sk,
         CAST((id - 1) * 10000 AS INT) AS ib_lower_bound,
         CAST(id * 10000 AS INT) AS ib_upper_bound
  FROM (SELECT explode(sequence(1, 20)) AS id)
),
store_returns AS (
  SELECT {_date_sk("CAST(o_orderdate AS DATE)")}
             + CAST((l_orderkey * 13 + l_linenumber * 17) % 90 AS INT)
             AS sr_returned_date_sk,
         o_custkey AS sr_customer_sk,
         CAST(l_suppkey % 10 + 1 AS INT) AS sr_store_sk,
         l_partkey AS sr_item_sk,
         l_orderkey AS sr_ticket_number,
         {_m("T", 2)} AS sr_fee,
         l_quantity AS sr_return_quantity,
         {_m("E * 0.1", 7)} AS sr_return_amt,
         {_m("E * 0.05 + T", 6)} AS sr_net_loss,
         CAST(o_custkey % 1000 + 1 AS INT) AS sr_cdemo_sk,
         CAST(l_partkey % 35 + 1 AS INT) AS sr_reason_sk
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
),
inventory AS (
  SELECT p_partkey AS inv_item_sk,
         {_date_sk("CAST(wd AS DATE)")}
             AS inv_date_sk,
         CAST(p_partkey % 5 + 1 AS INT) AS inv_warehouse_sk,
         CAST((p_partkey * 7 + datediff(CAST(wd AS DATE), DATE '1992-01-01'))
              % 1000 AS INT) AS inv_quantity_on_hand
  FROM part
  CROSS JOIN (SELECT explode(sequence(DATE '1995-01-03', DATE '2001-12-31',
                                      INTERVAL 7 DAY)) AS wd)
),
reason AS (
  SELECT id AS r_reason_sk,
         CASE id WHEN 1 THEN 'Did not like the warranty'
                 WHEN 2 THEN 'Wrong size'
                 WHEN 3 THEN 'Found a better price'
                 ELSE 'reason_' || CAST(id AS STRING) END AS r_reason_desc
  FROM (SELECT explode(sequence(1, 35)) AS id)
),
web_returns AS (
  SELECT {_date_sk("CAST(o_orderdate AS DATE)")}
             + CAST((l_orderkey * 19 + l_linenumber * 23) % 90 AS INT)
             AS wr_returned_date_sk,
         l_partkey AS wr_item_sk,
         l_orderkey AS wr_order_number,
         o_custkey AS wr_returning_customer_sk,
         o_custkey + l_linenumber % 2 AS wr_returning_addr_sk,
         l_quantity AS wr_return_quantity,
         {_m("E * 0.1", 7)} AS wr_return_amt,
         {_m("E * 0.05 + T", 6)} AS wr_net_loss,
         CAST(l_orderkey % 12 + 1 AS INT) AS wr_web_page_sk,
         CAST(l_partkey % 35 + 1 AS INT) AS wr_reason_sk,
         {_m("E * 0.12", 7)} AS wr_refunded_cash,
         {_m("T", 2)} AS wr_fee,
         CAST(o_custkey % 1000 + 1 AS INT) AS wr_refunded_cdemo_sk,
         CAST((o_custkey + 1) % 1000 + 1 AS INT) AS wr_returning_cdemo_sk,
         o_custkey + l_linenumber % 2 AS wr_refunded_addr_sk
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % 4 = 1 AND l_returnflag = 'R'
),
catalog_returns AS (
  SELECT {_date_sk("CAST(o_orderdate AS DATE)")}
             + CAST((l_orderkey * 29 + l_linenumber * 37) % 90 AS INT)
             AS cr_returned_date_sk,
         l_partkey AS cr_item_sk,
         l_orderkey AS cr_order_number,
         o_custkey AS cr_returning_customer_sk,
         o_custkey + l_linenumber % 2 AS cr_returning_addr_sk,
         l_quantity AS cr_return_quantity,
         {_m("E * 0.1", 7)} AS cr_return_amount,
         {_m("E * 0.1 + T", 7)} AS cr_return_amt_inc_tax,
         {_m("E * 0.05 + T", 6)} AS cr_net_loss,
         CAST(o_custkey % 6 + 1 AS INT) AS cr_call_center_sk,
         CAST(l_suppkey % 5 + 1 AS INT) AS cr_warehouse_sk,
         CAST(l_partkey % 35 + 1 AS INT) AS cr_reason_sk,
         {_m("E * 0.08", 6)} AS cr_refunded_cash,
         CAST((l_orderkey * 3 + l_partkey) % 200 + 1 AS INT)
             AS cr_catalog_page_sk,
         {_m("E * 0.015", 6)} AS cr_reversed_charge,
         {_m("E * 0.01", 6)} AS cr_store_credit
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % 4 = 2 AND l_returnflag = 'R'
)
"""

_DUCK_DERIVE = f"""
WITH date_dim AS (
  SELECT CAST(d AS DATE) AS d_date,
         (CAST(d AS DATE) - DATE '1992-01-01') + 2450000 AS d_date_sk,
         year(d) AS d_year, month(d) AS d_moy, day(d) AS d_dom,
         CAST(1200 + (year(d) - 1992) * 12 + month(d) - 1 AS INT)
             AS d_month_seq,
         CAST(((CAST(d AS DATE) - DATE '1992-01-01') + 3) % 7 AS INT)
             AS d_dow,
         CAST((month(d) - 1) // 3 + 1 AS INT) AS d_qoy,
         dayname(CAST(d AS DATE)) AS d_day_name,
         CAST(year(d) AS VARCHAR) || 'Q' ||
             CAST((month(d) - 1) // 3 + 1 AS VARCHAR) AS d_quarter_name,
         CAST(((CAST(d AS DATE) - DATE '1992-01-01') + 3) // 7
              + 5270 AS INT) AS d_week_seq
  FROM (SELECT unnest(generate_series(DATE '{_DATE_LO}', DATE '{_DATE_HI}',
                                      INTERVAL '1 day')) AS d) t
),
item AS (
  SELECT p_partkey AS i_item_sk,
         p_brand AS i_brand,
         CAST(SUBSTR(p_brand, 7) AS INT) AS i_brand_id,
         p_type AS i_category,
         CAST(p_size % 10 + 1 AS INT) AS i_category_id,
         CAST(p_partkey % 500 AS INT) AS i_manufact_id,
         CAST(p_partkey % 40 + 1 AS INT) AS i_manager_id,
         'I' || lpad(CAST(p_partkey AS VARCHAR), 9, '0') AS i_item_id,
         p_name AS i_item_desc,
         'CLASS#' || CAST(p_partkey % 7 AS VARCHAR) AS i_class,
         CAST(p_partkey % 7 + 1 AS INT) AS i_class_id,
         'MFG#' || CAST(p_partkey % 500 AS VARCHAR) AS i_manufact,
         CASE p_partkey % 8 WHEN 0 THEN 'orchid' WHEN 1 THEN 'chiffon'
              WHEN 2 THEN 'lace' WHEN 3 THEN 'navy' WHEN 4 THEN 'salmon'
              WHEN 5 THEN 'peru' WHEN 6 THEN 'ivory'
              ELSE 'slate' END AS i_color,
         {_m("P", 5)} AS i_current_price,
         {_m("P * 0.6", 5)} AS i_wholesale_cost,
         p_name AS i_product_name,
         CASE p_partkey % 6 WHEN 0 THEN 'Pound' WHEN 1 THEN 'Lb'
              WHEN 2 THEN 'Each' WHEN 3 THEN 'Oz' WHEN 4 THEN 'Box'
              ELSE 'Unknown' END AS i_units,
         CASE p_size % 5 WHEN 0 THEN 'petite' WHEN 1 THEN 'medium'
              WHEN 2 THEN 'small' WHEN 3 THEN 'large'
              ELSE 'N/A' END AS i_size
  FROM part
),
store_sales AS (
  SELECT (CAST(o_orderdate AS DATE) - DATE '1992-01-01') + 2450000
             AS ss_sold_date_sk,
         l_partkey AS ss_item_sk,
         {_m("E", 8)} AS ss_ext_sales_price,
         CAST((l_orderkey * 7 + l_linenumber * 4973) % 86400 AS INT)
             AS ss_sold_time_sk,
         CASE WHEN (l_orderkey * 13 + l_linenumber) % 47 = 0 THEN NULL
              ELSE CAST(o_custkey % 7200 + 1 AS INT) END AS ss_hdemo_sk,
         CAST(l_suppkey % 10 + 1 AS INT) AS ss_store_sk,
         l_orderkey AS ss_ticket_number,
         o_custkey AS ss_customer_sk,
         CASE WHEN (l_orderkey * 31 + l_linenumber) % 37 = 0 THEN NULL
              ELSE o_custkey + l_linenumber % 2 END AS ss_addr_sk,
         {_m("E + T", 8)} AS ss_ext_list_price,
         {_m("T", 2)} AS ss_ext_tax,
         {_m("E - Q", 8)} AS ss_net_profit,
         CAST((o_custkey + l_linenumber * 7) % 1000 + 1 AS INT) AS ss_cdemo_sk,
         CAST(l_partkey % 300 + 1 AS INT) AS ss_promo_sk,
         l_quantity AS ss_quantity,
         {_m("E", 8)} AS ss_list_price,
         {_m("E * 0.6", 7)} AS ss_ext_wholesale_cost,
         {_m("E * 0.006", 5)} AS ss_wholesale_cost,
         {_m("D * Q", 3)} AS ss_ext_discount_amt,
         {_m("E - D", 8)} AS ss_net_paid,
         {_m("D", 2)} AS ss_coupon_amt,
         {_m("T", 2)} AS ss_sales_price
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
time_dim AS (
  SELECT id AS t_time_sk, id AS t_time, CAST(id // 3600 AS INT) AS t_hour,
         CAST((id % 3600) // 60 AS INT) AS t_minute,
         CAST(id % 60 AS INT) AS t_second,
         CASE WHEN id >= 6*3600 AND id < 9*3600 THEN 'breakfast'
              WHEN id >= 17*3600 AND id < 20*3600 THEN 'dinner'
              ELSE NULL END AS t_meal_time
  FROM range(0, 86400) t(id)
),
household_demographics AS (
  SELECT id AS hd_demo_sk, CAST(id % 10 AS INT) AS hd_dep_count,
         CAST(id % 20 + 1 AS INT) AS hd_income_band_sk,
         CASE id % 5 WHEN 0 THEN '>10000' WHEN 1 THEN '5001-10000'
                     WHEN 2 THEN '1001-5000' WHEN 3 THEN '501-1000'
                     ELSE '0-500' END AS hd_buy_potential,
         CAST(id % 5 AS INT) AS hd_vehicle_count
  FROM range(1, 7201) t(id)
),
store AS (
  SELECT id AS s_store_sk, 'store_' || CAST(id AS VARCHAR) AS s_store_name,
         'S' || lpad(CAST(id AS VARCHAR), 4, '0') AS s_store_id,
         'Company_' || CAST(id % 3 AS VARCHAR) AS s_company_name,
         CAST(id % 3 AS INT) AS s_company_id,
         CAST(id * 7 AS VARCHAR) AS s_street_number,
         CASE id % 4 WHEN 0 THEN 'Main' WHEN 1 THEN 'Oak'
              WHEN 2 THEN 'Cedar' ELSE 'Elm' END AS s_street_name,
         CASE id % 3 WHEN 0 THEN 'St' WHEN 1 THEN 'Ave'
              ELSE 'Blvd' END AS s_street_type,
         'Suite ' || CAST(id * 10 AS VARCHAR) AS s_suite_number,
         CASE id % 5 WHEN 0 THEN 'SD' WHEN 1 THEN 'MO' WHEN 2 THEN 'GA'
              WHEN 3 THEN 'AL' ELSE 'TN' END AS s_state,
         CAST(CASE WHEN id % 2 = 0 THEN -6 ELSE -7 END AS INT)
             AS s_gmt_offset,
         lpad(CAST(id % 97 * 131 AS VARCHAR), 5, '0') || '-' ||
             CAST(id % 13 AS VARCHAR) AS s_zip,
         CAST(id % 3 + 6 AS INT) AS s_market_id,
         CAST(150 + id * 15 AS INT) AS s_number_employees,
         CASE id % 5 WHEN 0 THEN 'Oakland' WHEN 1 THEN 'Riverside'
             WHEN 2 THEN 'Georgetown' WHEN 3 THEN 'Springfield'
             ELSE 'Fairview' END AS s_city,
         CASE id % 10 WHEN 0 THEN 'Daviess County'
             WHEN 1 THEN 'Franklin Parish' WHEN 2 THEN 'Barrow County'
             WHEN 3 THEN 'Luce County' WHEN 4 THEN 'Fairfield County'
             WHEN 5 THEN 'Richland County' WHEN 6 THEN 'Ziebach County'
             WHEN 7 THEN 'Walker County' WHEN 8 THEN 'Other County A'
             ELSE 'Other County B' END AS s_county
  FROM range(1, 11) t(id)
),
customer AS (
  SELECT c_custkey AS c_customer_sk,
         'C' || lpad(CAST(c_custkey AS VARCHAR), 15, '0') AS c_customer_id,
         'CF' || CAST(c_custkey % 97 AS VARCHAR) AS c_first_name,
         'CL' || CAST(c_custkey % 701 AS VARCHAR) AS c_last_name,
         CASE c_custkey % 6 WHEN 0 THEN 'Mr.' WHEN 1 THEN 'Mrs.'
              WHEN 2 THEN 'Ms.' WHEN 3 THEN 'Dr.' WHEN 4 THEN 'Miss'
              ELSE 'Sir' END AS c_salutation,
         CASE WHEN c_custkey % 2 = 0 THEN 'Y' ELSE 'N' END
             AS c_preferred_cust_flag,
         'COUNTRY_' || CAST(c_custkey % 20 AS VARCHAR) AS c_birth_country,
         'login_' || CAST(c_custkey % 53 AS VARCHAR) AS c_login,
         'e' || CAST(c_custkey AS VARCHAR) || '@example.com'
             AS c_email_address,
         CAST(c_custkey % 28 + 1 AS INT) AS c_birth_day,
         CAST(c_custkey % 12 + 1 AS INT) AS c_birth_month,
         CAST(1924 + c_custkey % 70 AS INT) AS c_birth_year,
         CAST(2450000 + c_custkey % 2500 AS INT) AS c_last_review_date_sk,
         CAST(2451096 + c_custkey % 2400 AS INT) AS c_first_sales_date_sk,
         CAST(2451096 + c_custkey % 2400 + 30 AS INT)
             AS c_first_shipto_date_sk,
         CAST(c_custkey % 1000 + 1 AS INT) AS c_current_cdemo_sk,
         CAST((c_custkey * 7 + 3) % 7200 + 1 AS INT) AS c_current_hdemo_sk,
         c_custkey AS c_current_addr_sk
  FROM main.customer
),
customer_address AS (
  SELECT c_custkey AS ca_address_sk,
         lpad(CAST(c_custkey % 97 * 131 AS VARCHAR), 5, '0') || '-' ||
             CAST(c_custkey % 13 AS VARCHAR) AS ca_zip,
         'city_' || CAST(c_custkey % 19 AS VARCHAR) AS ca_city,
         CASE c_custkey % 7 WHEN 0 THEN 'CA' WHEN 1 THEN 'WA'
              WHEN 2 THEN 'GA' WHEN 3 THEN 'TX' WHEN 4 THEN 'NY'
              WHEN 5 THEN 'OH' ELSE 'FL' END AS ca_state,
         'county_' || CAST(c_custkey % 11 AS VARCHAR) AS ca_county,
         'United States' AS ca_country,
         CAST(c_custkey % 999 + 1 AS VARCHAR) AS ca_street_number,
         CASE c_custkey % 4 WHEN 0 THEN 'Main' WHEN 1 THEN 'Oak'
              WHEN 2 THEN 'Cedar' ELSE 'Elm' END AS ca_street_name,
         CASE c_custkey % 3 WHEN 0 THEN 'St' WHEN 1 THEN 'Ave'
              ELSE 'Blvd' END AS ca_street_type,
         'Suite ' || CAST(c_custkey % 90 AS VARCHAR) AS ca_suite_number,
         CASE c_custkey % 3 WHEN 0 THEN 'apartment' WHEN 1 THEN 'condo'
              ELSE 'single family' END AS ca_location_type,
         CAST(-8 + c_custkey % 3 AS INT) AS ca_gmt_offset
  FROM main.customer
),
customer_demographics AS (
  SELECT id AS cd_demo_sk,
         CASE WHEN id % 2 = 0 THEN 'F' ELSE 'M' END AS cd_gender,
         CASE id % 5 WHEN 0 THEN 'S' WHEN 1 THEN 'M' WHEN 2 THEN 'W'
                     WHEN 3 THEN 'D' ELSE 'U' END AS cd_marital_status,
         CASE id % 7 WHEN 0 THEN 'Primary' WHEN 1 THEN 'Secondary'
                     WHEN 2 THEN 'College' WHEN 3 THEN '2 yr Degree'
                     WHEN 4 THEN '4 yr Degree' WHEN 5 THEN 'Advanced Degree'
                     ELSE 'Unknown' END AS cd_education_status,
         CAST(id % 20 * 500 + 500 AS INT) AS cd_purchase_estimate,
         CASE id % 4 WHEN 0 THEN 'Low Risk' WHEN 1 THEN 'Good'
              WHEN 2 THEN 'High Risk' ELSE 'Unknown' END AS cd_credit_rating,
         CAST(id % 7 AS INT) AS cd_dep_count,
         CAST(id % 5 AS INT) AS cd_dep_employed_count,
         CAST(id % 3 AS INT) AS cd_dep_college_count
  FROM range(1, 1001) t(id)
),
promotion AS (
  SELECT id AS p_promo_sk,
         CASE WHEN id % 3 = 0 THEN 'Y' ELSE 'N' END AS p_channel_email,
         CASE WHEN id % 5 = 0 THEN 'Y' ELSE 'N' END AS p_channel_event,
         CASE WHEN id % 4 = 0 THEN 'Y' ELSE 'N' END AS p_channel_dmail,
         CASE WHEN id % 7 = 0 THEN 'Y' ELSE 'N' END AS p_channel_tv
  FROM range(1, 301) t(id)
),
catalog_page AS (
  SELECT id AS cp_catalog_page_sk,
         'CP' || lpad(CAST(id AS VARCHAR), 5, '0') AS cp_catalog_page_id
  FROM range(1, 201) t(id)
),
web_sales AS (
  SELECT (CAST(o_orderdate AS DATE) - DATE '1992-01-01') + 2450000
             AS ws_sold_date_sk,
         l_partkey AS ws_item_sk,
         {_m("E", 8)} AS ws_ext_sales_price,
         o_custkey AS ws_bill_customer_sk,
         o_custkey + l_linenumber % 2 AS ws_bill_addr_sk,
         CAST((l_orderkey * 7 + l_linenumber * 4973) % 86400 AS INT)
             AS ws_sold_time_sk,
         {_m("T", 2)} AS ws_sales_price,
         l_quantity AS ws_quantity,
         (CAST(o_orderdate AS DATE) - DATE '1992-01-01') + 2450000
             + CAST((l_orderkey * 11 + l_linenumber * 31) % 150 AS INT)
             AS ws_ship_date_sk,
         CAST(l_suppkey % 5 + 1 AS INT) AS ws_warehouse_sk,
         CAST(l_partkey % 20 + 1 AS INT) AS ws_ship_mode_sk,
         CAST(l_orderkey % 30 + 1 AS INT) AS ws_web_site_sk,
         {_m("E - D", 8)} AS ws_net_paid,
         {_m("E + T", 8)} AS ws_ext_list_price,
         {_m("E * 0.6", 7)} AS ws_ext_wholesale_cost,
         {_m("D * Q", 3)} AS ws_ext_discount_amt,
         l_orderkey AS ws_order_number,
         {_m("E * 0.02", 6)} AS ws_ext_ship_cost,
         CAST(l_partkey % 300 + 1 AS INT) AS ws_promo_sk,
         {_m("E", 8)} AS ws_list_price,
         {_m("E * 0.006", 5)} AS ws_wholesale_cost,
         {_m("E - D + T", 8)} AS ws_net_paid_inc_tax,
         o_custkey + l_linenumber % 2 AS ws_ship_addr_sk,
         CAST(o_custkey % 7200 + 1 AS INT) AS ws_ship_hdemo_sk,
         CASE WHEN (l_orderkey * 7 + l_linenumber) % 41 = 0 THEN NULL
              ELSE CAST(l_orderkey % 12 + 1 AS INT) END
             AS ws_web_page_sk,
         {_m("E - Q", 8)} AS ws_net_profit
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % 4 = 1
),
catalog_sales AS (
  SELECT (CAST(o_orderdate AS DATE) - DATE '1992-01-01') + 2450000
             AS cs_sold_date_sk,
         l_partkey AS cs_item_sk,
         {_m("E", 8)} AS cs_ext_sales_price,
         CAST(o_custkey % 1000 + 1 AS INT) AS cs_bill_cdemo_sk,
         o_custkey AS cs_bill_customer_sk,
         o_custkey + l_linenumber % 2 AS cs_bill_addr_sk,
         CAST((l_orderkey * 7 + l_linenumber * 4973) % 86400 AS INT)
             AS cs_sold_time_sk,
         CAST(l_partkey % 300 + 1 AS INT) AS cs_promo_sk,
         l_quantity AS cs_quantity,
         {_m("E", 8)} AS cs_list_price,
         {_m("D", 2)} AS cs_coupon_amt,
         {_m("T", 2)} AS cs_sales_price,
         (CAST(o_orderdate AS DATE) - DATE '1992-01-01') + 2450000
             + CAST((l_orderkey * 17 + l_linenumber * 43) % 150 AS INT)
             AS cs_ship_date_sk,
         CASE WHEN (l_orderkey * 11 + l_linenumber) % 43 = 0 THEN NULL
              ELSE CAST(l_suppkey % 5 + 1 AS INT) END
             AS cs_warehouse_sk,
         CAST(l_partkey % 20 + 1 AS INT) AS cs_ship_mode_sk,
         CAST(o_custkey % 6 + 1 AS INT) AS cs_call_center_sk,
         {_m("E - D", 8)} AS cs_net_paid,
         {_m("E - Q", 8)} AS cs_net_profit,
         l_orderkey AS cs_order_number,
         {_m("E * 0.02", 6)} AS cs_ext_ship_cost,
         o_custkey + l_linenumber % 2 AS cs_ship_addr_sk,
         o_custkey AS cs_ship_customer_sk,
         {_m("E + T", 8)} AS cs_ext_list_price,
         {_m("E * 0.6", 7)} AS cs_ext_wholesale_cost,
         {_m("D * Q", 3)} AS cs_ext_discount_amt,
         CAST((l_orderkey * 3 + l_partkey) % 200 + 1 AS INT)
             AS cs_catalog_page_sk,
         {_m("E * 0.006", 5)} AS cs_wholesale_cost,
         {_m("E - D + T", 8)} AS cs_net_paid_inc_tax,
         CAST((o_custkey * 31 + l_linenumber * 11) % 7200 + 1 AS INT)
             AS cs_bill_hdemo_sk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % 4 = 2
),
warehouse AS (
  SELECT id AS w_warehouse_sk,
         'Warehouse number ' || CAST(id AS VARCHAR) AS w_warehouse_name,
         CAST(10000 + id * 5000 AS INT) AS w_warehouse_sq_ft,
         CASE id % 5 WHEN 0 THEN 'Oakland' WHEN 1 THEN 'Riverside'
              WHEN 2 THEN 'Georgetown' WHEN 3 THEN 'Springfield'
              ELSE 'Fairview' END AS w_city,
         CASE id % 5 WHEN 0 THEN 'Daviess County'
              WHEN 1 THEN 'Franklin Parish' WHEN 2 THEN 'Barrow County'
              WHEN 3 THEN 'Luce County'
              ELSE 'Fairfield County' END AS w_county,
         'United States' AS w_country,
         CASE id % 5 WHEN 0 THEN 'CA' WHEN 1 THEN 'WA' WHEN 2 THEN 'TX'
              WHEN 3 THEN 'NY' ELSE 'GA' END AS w_state
  FROM range(1, 6) t(id)
),
ship_mode AS (
  SELECT id AS sm_ship_mode_sk,
         CASE id % 5 WHEN 0 THEN 'DIAMOND' WHEN 1 THEN 'AIRBORNE'
              WHEN 2 THEN 'UPS' WHEN 3 THEN 'FEDEX'
              ELSE 'ZOUROS' END AS sm_carrier,
         CASE id % 5 WHEN 0 THEN 'EXPRESS' WHEN 1 THEN 'OVERNIGHT'
              WHEN 2 THEN 'REGULAR' WHEN 3 THEN 'TWO DAY'
              ELSE 'LIBRARY' END AS sm_type
  FROM range(1, 21) t(id)
),
web_site AS (
  SELECT id AS web_site_sk,
         'WS' || lpad(CAST(id AS VARCHAR), 4, '0') AS web_site_id,
         'site_' || CAST(id % 6 AS VARCHAR) AS web_name,
         CASE WHEN id % 2 = 0 THEN 'pri' ELSE 'able' END
             AS web_company_name
  FROM range(1, 31) t(id)
),
call_center AS (
  SELECT id AS cc_call_center_sk,
         'CC' || lpad(CAST(id AS VARCHAR), 3, '0') AS cc_call_center_id,
         'Manager_' || CAST(id % 4 AS VARCHAR) AS cc_manager,
         'call_center_' || CAST(id AS VARCHAR) AS cc_name,
         CASE id % 5 WHEN 0 THEN 'Daviess County'
              WHEN 1 THEN 'Franklin Parish' WHEN 2 THEN 'Barrow County'
              WHEN 3 THEN 'Luce County'
              ELSE 'Fairfield County' END AS cc_county
  FROM range(1, 7) t(id)
),
web_page AS (
  SELECT id AS wp_web_page_sk,
         CAST(4800 + id * 40 AS INT) AS wp_char_count
  FROM range(1, 13) t(id)
),
income_band AS (
  SELECT id AS ib_income_band_sk,
         CAST((id - 1) * 10000 AS INT) AS ib_lower_bound,
         CAST(id * 10000 AS INT) AS ib_upper_bound
  FROM range(1, 21) t(id)
),
store_returns AS (
  SELECT (CAST(o_orderdate AS DATE) - DATE '1992-01-01') + 2450000
             + CAST((l_orderkey * 13 + l_linenumber * 17) % 90 AS INT)
             AS sr_returned_date_sk,
         o_custkey AS sr_customer_sk,
         CAST(l_suppkey % 10 + 1 AS INT) AS sr_store_sk,
         l_partkey AS sr_item_sk,
         l_orderkey AS sr_ticket_number,
         {_m("T", 2)} AS sr_fee,
         l_quantity AS sr_return_quantity,
         {_m("E * 0.1", 7)} AS sr_return_amt,
         {_m("E * 0.05 + T", 6)} AS sr_net_loss,
         CAST(o_custkey % 1000 + 1 AS INT) AS sr_cdemo_sk,
         CAST(l_partkey % 35 + 1 AS INT) AS sr_reason_sk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
),
inventory AS (
  SELECT p_partkey AS inv_item_sk,
         (CAST(wd AS DATE) - DATE '1992-01-01') + 2450000 AS inv_date_sk,
         CAST(p_partkey % 5 + 1 AS INT) AS inv_warehouse_sk,
         CAST((p_partkey * 7 + (CAST(wd AS DATE) - DATE '1992-01-01'))
              % 1000 AS INT) AS inv_quantity_on_hand
  FROM part
  CROSS JOIN (SELECT unnest(generate_series(DATE '1995-01-03',
                                            DATE '2001-12-31',
                                            INTERVAL '7 days')) AS wd) t
),
reason AS (
  SELECT id AS r_reason_sk,
         CASE id WHEN 1 THEN 'Did not like the warranty'
                 WHEN 2 THEN 'Wrong size'
                 WHEN 3 THEN 'Found a better price'
                 ELSE 'reason_' || CAST(id AS VARCHAR) END AS r_reason_desc
  FROM range(1, 36) t(id)
),
web_returns AS (
  SELECT (CAST(o_orderdate AS DATE) - DATE '1992-01-01') + 2450000
             + CAST((l_orderkey * 19 + l_linenumber * 23) % 90 AS INT)
             AS wr_returned_date_sk,
         l_partkey AS wr_item_sk,
         l_orderkey AS wr_order_number,
         o_custkey AS wr_returning_customer_sk,
         o_custkey + l_linenumber % 2 AS wr_returning_addr_sk,
         l_quantity AS wr_return_quantity,
         {_m("E * 0.1", 7)} AS wr_return_amt,
         {_m("E * 0.05 + T", 6)} AS wr_net_loss,
         CAST(l_orderkey % 12 + 1 AS INT) AS wr_web_page_sk,
         CAST(l_partkey % 35 + 1 AS INT) AS wr_reason_sk,
         {_m("E * 0.12", 7)} AS wr_refunded_cash,
         {_m("T", 2)} AS wr_fee,
         CAST(o_custkey % 1000 + 1 AS INT) AS wr_refunded_cdemo_sk,
         CAST((o_custkey + 1) % 1000 + 1 AS INT) AS wr_returning_cdemo_sk,
         o_custkey + l_linenumber % 2 AS wr_refunded_addr_sk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % 4 = 1 AND l_returnflag = 'R'
),
catalog_returns AS (
  SELECT (CAST(o_orderdate AS DATE) - DATE '1992-01-01') + 2450000
             + CAST((l_orderkey * 29 + l_linenumber * 37) % 90 AS INT)
             AS cr_returned_date_sk,
         l_partkey AS cr_item_sk,
         l_orderkey AS cr_order_number,
         o_custkey AS cr_returning_customer_sk,
         o_custkey + l_linenumber % 2 AS cr_returning_addr_sk,
         l_quantity AS cr_return_quantity,
         {_m("E * 0.1", 7)} AS cr_return_amount,
         {_m("E * 0.1 + T", 7)} AS cr_return_amt_inc_tax,
         {_m("E * 0.05 + T", 6)} AS cr_net_loss,
         CAST(o_custkey % 6 + 1 AS INT) AS cr_call_center_sk,
         CAST(l_suppkey % 5 + 1 AS INT) AS cr_warehouse_sk,
         CAST(l_partkey % 35 + 1 AS INT) AS cr_reason_sk,
         {_m("E * 0.08", 6)} AS cr_refunded_cash,
         CAST((l_orderkey * 3 + l_partkey) % 200 + 1 AS INT)
             AS cr_catalog_page_sk,
         {_m("E * 0.015", 6)} AS cr_reversed_charge,
         {_m("E * 0.01", 6)} AS cr_store_credit
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % 4 = 2 AND l_returnflag = 'R'
)
"""


# Representative TPC-DS bench subset (one per heavy plan family): the
# year_total CTE chain (q4), the 9-fact-pass cross-channel INTERSECT
# (q14), the triple-channel unpartitioned double ranks (q49), the cumulative
# FULL OUTER window (q51), the 17-relation resale chain (q64), the
# 8-level rollup + per-category rank (q67), the no-return anti-join
# channels (q78), and the order-level EXISTS chain (q95) — tagged into
# bench.py so round-over-round regressions on the executed-TPC-DS
# surface are visible.
_BENCH_TPCDS = {"tpcds_q4", "tpcds_q14", "tpcds_q49", "tpcds_q51",
                "tpcds_q64", "tpcds_q67", "tpcds_q78", "tpcds_q95"}


def _split_ctes(sql: str) -> tuple[list[tuple[str, str]], str]:
    """Split ``WITH a AS (...), b AS (...) <tail>`` into the ordered
    (name, "name AS (...)") pairs and the tail after the last one, via a
    paren-depth scan (no parens occur inside the derive's string literals;
    the prelude-pruning test in tests/test_plans.py pins the split)."""
    rest = sql[re.search(r"\bWITH\b", sql).end():]
    out: list[tuple[str, str]] = []
    pat = re.compile(r"[\s,]*([a-z_]+)\s+AS\s+\(")
    i = 0
    while m := pat.match(rest, i):
        depth, j = 1, m.end()
        while depth:
            if rest[j] == "(":
                depth += 1
            elif rest[j] == ")":
                depth -= 1
            j += 1
        out.append((m.group(1), rest[m.start(1):j]))
        i = j
    return out, rest[i:]


def _refs(text: str, names: tuple[str, ...]) -> frozenset[str]:
    """The ``names`` that ``text`` mentions as whole words."""
    return frozenset(re.findall(rf"\b(?:{'|'.join(names)})\b", text))


# The derive's tables, each "name AS (SELECT ...)".  None reads another:
# customer_address and customer read the BASE customer table (a WITH
# definition sees only the definitions before it, not itself).
_CTES = _split_ctes(_SPARK_DERIVE)[0]
_STAR = tuple(name for name, _ in _CTES)
# The base tables the derive reads; their mtimes key the stored star.
_STAR_SOURCES = tuple(sorted(
    frozenset().union(*(_refs(text, tuple(TABLES)) for _, text in _CTES))))


def _pruned_prelude(body: str) -> str:
    """The derive prelude restricted to the tables ``body`` references: the
    spelling of ``fn.plan.inline``, the body over tables derived inside the
    statement.  A missed reference fails loudly (TABLE_OR_VIEW_NOT_FOUND),
    never silently."""
    used = _refs(body, _STAR)
    return "\nWITH " + ",\n".join(t for n, t in _CTES if n in used) + "\n"


# The returns tables: each is joined to its sales table on the order and
# item keys, yet its pruned scan's file-size estimate falls under the
# broadcast threshold at sf1.  A fact side is never a broadcast build side,
# so they are read as views under their own names that carry Spark's
# no-broadcast join hint (see _no_broadcast); no TPC-H view has these names.
_RETURNS = ("store_returns", "catalog_returns", "web_returns")


def _star_prelude(body: str) -> str:
    """One alias CTE per stored table ``body`` references, returns tables
    aside, so the body runs verbatim over the star: the spelling of
    ``fn.plan.final``.  A hint inside a CTE is dropped before the CTE is
    inlined, so the returns tables are read through their hinted views."""
    used = _refs(body, _STAR) - frozenset(_RETURNS)
    return "\nWITH " + ",\n".join(
        f"{n} AS (SELECT * FROM tpcds_{n})" for n in _STAR if n in used) + "\n"


def _star_dir(sf_dir: str) -> str:
    """Where the star of ``sf_dir`` is stored: ``spark-warehouse/
    derived_tpcds/<sf basename>/<key>``, key a digest of the source tables'
    mtime_ns and of the derive text, so a regenerated source or an edited
    derive selects a new directory (delete the directory to force a
    rebuild)."""
    h = hashlib.sha256(_SPARK_DERIVE.encode())
    for t in _STAR_SOURCES:
        h.update(f"\0{t}={_mtime_ns(sf_dir, t)}".encode())
    return os.path.join(repo_root(), "spark-warehouse", "derived_tpcds",
                        os.path.basename(os.path.normpath(sf_dir)),
                        h.hexdigest()[:16])


def _no_broadcast(df):
    """``df`` under Spark's NO_BROADCAST_HASH join hint: the planner never
    builds a broadcast from it, at any size estimate, while the other side
    of its join may still be broadcast.  SQL has no spelling for this
    hint (adaptive execution sets it internally), so the hint node is
    built through the JVM."""
    spark = df.sparkSession
    jvm = spark._jvm
    logical = jvm.org.apache.spark.sql.catalyst.plans.logical
    strategy = getattr(getattr(logical, "NO_BROADCAST_HASH$"), "MODULE$")
    plan = logical.ResolvedHint(df._jdf.queryExecution().analyzed(),
                                logical.HintInfo(jvm.scala.Some(strategy)))
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, plan), spark)


# applicationId -> (the star directory its views read, those views)
_STAR_VIEWS: dict[str, tuple[str, dict]] = {}


def _ensure_star(spark, sf_dir: str) -> dict:
    """Bind and return the views of the star of ``sf_dir`` by name:
    ``tpcds_<table>`` for every stored table, and the returns tables also
    under their own names with the no-broadcast hint, writing the star
    first if no complete copy is stored.  Each table is its own CTE's
    SELECT over the base views, written into a temp directory that is
    renamed into place only after all of them are written.  The base views
    are registered on every call: they are what ``fn.plan.inline`` reads."""
    register_views(spark, sf_dir, _STAR_SOURCES)
    dest = _star_dir(sf_dir)
    app = app_id(spark)
    if _STAR_VIEWS.get(app, ("",))[0] != dest or not os.path.isdir(dest):
        _STAR_VIEWS[app] = (dest, _write_star(spark, dest))
    views = _STAR_VIEWS[app][1]
    bind_views(spark, views)
    return views


def _write_star(spark, dest: str) -> dict:
    """Write the star to ``dest`` unless it is there; return its views."""
    if not os.path.isdir(dest):
        tmp = f"{dest}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            for name, text in _CTES:
                spark.sql(text[text.index("(") + 1:-1]).write.parquet(
                    os.path.join(tmp, name))
            try:
                os.rename(tmp, dest)
            except OSError:
                if not os.path.isdir(dest):  # not a concurrent writer's
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    views = {}
    for name in _STAR:
        df = cached_parquet(spark, os.path.join(dest, name))
        views[f"tpcds_{name}"] = df
        if name in _RETURNS:
            views[name] = _no_broadcast(df)
    return views


# statement text -> the text that runs it with DOUBLE for DECIMAL outputs
_DOUBLED: dict[str, str] = {}


def _doubled(spark, text: str) -> str:
    """``text`` with each DECIMAL output column cast to DOUBLE, the one
    output rule of the TPC-DS entries.  A money sum over the star's
    DECIMAL(p,2) columns is exact in both engines, but Spark types it
    DECIMAL(p+10,2) and DuckDB DECIMAL(38,2); a DOUBLE is what the
    oracle comparisons (tools/oracle_check.py and the __spark_entry__
    contract's) hash alike, and DuckDB's DECIMAL outputs reach them as
    DOUBLE already.  The output types come from analyzing
    ``text`` once per process (its views must be bound); a text with no
    DECIMAL output runs as it is."""
    if text not in _DOUBLED:
        fields = spark.sql(text).schema.fields
        cols = [f"CAST(`{f.name}` AS DOUBLE) AS `{f.name}`"
                if isinstance(f.dataType, DecimalType) else f"`{f.name}`"
                for f in fields]
        _DOUBLED[text] = (
            f"SELECT {', '.join(cols)} FROM ({text}\n) doubled"
            if any(isinstance(f.dataType, DecimalType) for f in fields)
            else text)
    return _DOUBLED[text]


def _register(name: str, body: str, doc: str) -> None:
    """Register ``name``: the DuckDB oracle runs ``body`` verbatim under the
    DuckDB derive, and the entry runs it verbatim over the stored star
    (``fn.plan.final``, through registry.statement), its DECIMAL outputs
    cast to DOUBLE (_doubled)."""

    def fn(spark, sf_dir):
        views = _ensure_star(spark, sf_dir)
        return statement(spark, _doubled(spark, fn.plan.final), views)

    fn.__name__ = name
    fn.__doc__ = doc
    fn.plan = Plan(_star_prelude(body) + body, _pruned_prelude(body) + body)
    tags = ("tpcds", "exec") + (("bench",) if name in _BENCH_TPCDS else ())
    query(name, oracle=_DUCK_DERIVE + body, tags=tags)(fn)


def _replace(text: str, old: str, new: str, n: int, where: str) -> str:
    """``text`` with each of the ``n`` occurrences of ``old`` replaced by
    ``new``.  A whitespace run in ``old`` matches any whitespace run of the
    text; otherwise the match is exact.  An ``old`` found other than ``n``
    times, or a replacement that changes nothing, fails."""
    pat = re.compile(r"\s+".join(map(re.escape, old.split())))
    found = len(pat.findall(text))
    assert found == n, f"{where}: {old!r} occurs {found} times, not {n}"
    edited = pat.sub(lambda _: new, text)
    assert edited != text, f"{where}: {old!r} changes nothing"
    return edited


def _respell(name: str, old: str, new: str) -> None:
    """Run the registered entry ``name`` with ``old`` replaced by ``new`` in
    its final statement: an equivalent spelling, used only where the entry
    is slower without it at .scale/sf1 over the stored star (interleaved
    A/B in SCALE.md).  The stored == derived pin checks its rows against
    the verbatim inline spelling."""
    fn = QUERIES[name]
    fn.plan = Plan(_replace(fn.plan.final, old, new, 1, name), fn.plan.inline)


class Edit(NamedTuple):
    """One adaptation of a reference statement: each of the ``n``
    occurrences of ``old`` becomes ``new`` (matched by _replace, so an
    edit need not copy the reference's layout)."""

    old: str
    new: str
    why: str
    n: int = 1


def _reference(name: str) -> str:
    """The reference statement of entry ``name``: ``tpcds_qN`` is the first
    statement of tpcds_sql/N.sql, ``tpcds_qNb`` the second.  A leading
    ``with`` becomes the ``,`` that continues the derive prelude's WITH."""
    qid, second = re.fullmatch(r"tpcds_q(\d+)(b?)", name).groups()
    stmt = reference_statements(int(qid))[1 if second else 0]
    return re.sub(r"(?i)\Awith\b", ",", stmt)


def _generate(name: str, edits: tuple[Edit, ...]) -> str:
    """The body of entry ``name``: its reference statement with ``edits``
    applied in order.  An edit whose count is off, or which changes
    nothing, fails at import."""
    text = _reference(name)
    for e in edits:
        text = _replace(text, e.old, e.new, e.n, name)
    return text


# Reasons shared by many edits.
_MONEY = ("exact quantity x price sum: the star's quantity is DOUBLE, so the"
          " product accumulates as a decimal (the house rule, helpers.py)")
_AVG = ("exact average: the decimal sum as a DOUBLE over the count (the"
        " engines round avg of a decimal differently)")
_RATIO = ("the exact sum as a DOUBLE, so the division after it is DOUBLE in"
          " both engines (Spark divides decimals exactly)")
_STDEV = ("sample stddev from exact sums of x and x*x (a DOUBLE stddev_samp is"
          " order-dependent)")
_ALIAS = "name the column alike in both engines"
_QUOTED = "plain column name for a quoted alias"
_INT = "integer column type alike in both engines"
_HUGEINT = "BIGINT sum: DuckDB sums integers as HUGEINT"
_RETURNS_ = "column named returns_: DuckDB reserves a bare returns"
_NULLS = "NULLs sort first as in Spark (DuckDB sorts them last)"
_TIEBREAK = "unique ORDER BY tiebreak, so the LIMIT keeps the same rows"
_RETARGET = "constant retargeted into the derived data's domain"
_UNPARSE = ("spelled so the plan unparser's SQL re-analyzes"
            " (tools/unparse_sweep.py)")
_SEQ = "month seq 1212 (1993) precedes the derived calendar (1995-2001)"
_CALENDAR = "the derived calendar ends 2001-08"
_YEARS = "years 2000-2001: the derived calendar ends 2001-08"
_CATEGORY = "category retargeted to a derived p_type"


def _named(col: str, alias: str, old: str | None = None) -> Edit:
    """``sum(col)`` (or ``old``) under the name ``alias``."""
    return Edit(old or f"sum({col})", f"sum({col}) {alias}", _ALIAS)


def _avg_of(col: str) -> str:
    """The exact average of ``col``, as SQL text."""
    return f"CAST(SUM({col}) AS DOUBLE) / COUNT({col})"


def _avg(col: str, alias: str | None = None, old: str | None = None,
         n: int = 1) -> Edit:
    """The exact average of ``col`` in place of ``avg(col)`` (or of
    ``old``)."""
    new = _avg_of(col) + (f" AS {alias}" if alias else "")
    return Edit(old or f"avg({col})", new, _AVG, n)


def _fsum(expr: str, n: int = 1) -> Edit:
    """The exact sum of ``expr`` as a DOUBLE, in place of ``sum(expr)``."""
    return Edit(f"sum({expr})", f"CAST(sum({expr}) AS DOUBLE)", _RATIO, n)


def _dprod(a: str, b: str) -> str:
    """The exact product of a DOUBLE quantity and a money column, as SQL
    text (the house rule)."""
    return sql_dec(f"{sql_dec(a)} * {sql_dec(b)}")


def _stddev(c: str) -> str:
    """stddev_samp of an integer-valued ``c`` from its sums of x and x*x,
    exact in both engines: one DOUBLE rounding per step after them."""
    s = f"CAST(SUM({c}) AS DOUBLE)"
    return (f"SQRT((CAST(SUM({c} * {c}) AS DOUBLE) - {s} * {s} / COUNT({c}))"
            f" / NULLIF(COUNT({c}) - 1, 0))")


# Edits shared by a family of entries.

def _share(col: str) -> tuple[Edit, ...]:
    """q12/q20/q98: an item's share of its class total, as a DOUBLE
    quotient of the exact sums."""
    return (
        Edit(f"sum({col})*100/sum(sum({col})) over (partition by i_class)",
             f"CAST(sum({col}) AS DOUBLE)*100/CAST(sum(sum({col})) OVER"
             " (partition by i_class) AS DOUBLE)", _RATIO),
        Edit("'Jewelry', 'Sports', 'Books'", "'ECONOMY', 'PROMO', 'STANDARD'",
             "categories retargeted to three derived p_type values"),
    )


def _monthly(p: str, part: str) -> tuple[Edit, ...]:
    """q47/q53/q57/q63/q89: the monthly sums' average over the window
    ``partition by part`` as their exact sum over their count."""
    col, w = f"{p}_sales_price", f"over (partition by {part})"
    return (Edit(f"avg(sum({col})) {w}",
                 f"CAST(SUM(SUM({col})) {w} AS DOUBLE)"
                 f" / COUNT(SUM({col})) {w}", _AVG),)


def _order_totals(p: str) -> tuple[Edit, ...]:
    """q16/q94/q95: plain names for the quoted aliases (Spark reads
    ``as 'order count'`` as a string)."""
    return (
        Edit(f"count(distinct {p}_order_number) as 'order count'",
             f"count(distinct {p}_order_number) as order_cnt", _QUOTED),
        Edit(f"sum({p}_ext_ship_cost) as 'total shipping cost'",
             f"sum({p}_ext_ship_cost) as total_ship_cost", _QUOTED),
        Edit(f"sum({p}_net_profit) as 'total net profit'",
             f"sum({p}_net_profit) as total_net_profit", _QUOTED),
    )


def _excess(p: str, quoted: str) -> tuple[Edit, ...]:
    """q32/q92: the excess discount total under a plain name, over the
    exact per-item average."""
    col = f"{p}_ext_discount_amt"
    return (Edit(f"sum({col}) as '{quoted}'",
                 f"sum({col}) as excess_discount_amt", _QUOTED),
            _avg(col))


# q24/q24b: the spend threshold over the exact average.
_Q24 = (
    Edit("having sum(netpaid) > (select 0.05*avg(netpaid)",
         "having CAST(SUM(netpaid) AS DOUBLE) > (select 0.05 *"
         f" ({_avg_of('netpaid')})", _AVG),
)

# q36/q86: the rollup level and rank columns typed alike in both engines.
_ROLLUP_RANK = (
    Edit("grouping(i_category)+grouping(i_class) as lochierarchy",
         "CAST(grouping(i_category)+grouping(i_class) AS INT) as lochierarchy",
         _INT),
    Edit("rank() over", "CAST(rank() over", _INT),
    Edit(") as rank_within_parent", ") AS BIGINT) as rank_within_parent",
         _INT),
)

# q5/q77/q80: the channel rollup's returns column and order.
_PNL = (
    Edit("sum(returns) as returns", "sum(returns_) as returns_", _RETURNS_),
    Edit("order by channel ,id",
         "order by channel ASC NULLS FIRST, id ASC NULLS FIRST", _NULLS),
)

# q13/q48/q85: sales-price bands retargeted to the derived sales prices
# (l_tax, 0.00-0.08).
_PRICE_BANDS = (
    Edit("100.00 and 150.00", "0.05 and 0.08", _RETARGET),
    Edit("50.00 and 100.00", "0.01 and 0.04", _RETARGET),
    Edit("150.00 and 200.00", "0.03 and 0.06", _RETARGET),
)

# q53/q63: the item sets retargeted to derived categories, classes and
# brands.
_ITEM_SETS = (
    Edit("1212", "1248", _SEQ, n=12),
    Edit("'Books','Children','Electronics'", "'ECONOMY','STANDARD','LARGE'",
         _RETARGET),
    Edit("'personal','portable','reference','self-help'",
         "'CLASS#0','CLASS#1','CLASS#2','CLASS#3'", _RETARGET),
    Edit("'scholaramalgamalg #14','scholaramalgamalg #7',"
         " 'exportiunivamalg #9','scholaramalgamalg #9'",
         "'Brand#14','Brand#7','Brand#9','Brand#19'", _RETARGET),
    Edit("'Women','Music','Men'", "'MEDIUM','SMALL','PROMO'", _RETARGET),
    Edit("'accessories','classical','fragrances','pants'",
         "'CLASS#4','CLASS#5','CLASS#6'", _RETARGET),
    Edit("'amalgimporto #1','edu packscholar #1','exportiimporto #1',"
         " 'importoamalg #1'",
         "'Brand#1','Brand#21','Brand#3','Brand#11'", _RETARGET),
)

# q50/q62/q99: the day-lag buckets as BIGINT counts under plain names.
_LAG_BUCKETS = (
    Edit("sum(case", "CAST(sum(case", _HUGEINT, n=5),
    *(Edit(f"as '{old}'", f"AS BIGINT) AS {new}", _HUGEINT) for old, new in (
        ("30 days", "d30"), ("31-60 days", "d31_60"), ("61-90 days", "d61_90"),
        ("91-120 days", "d91_120"), (">120 days", "dgt120"))),
)

# q23/q23b: the frequent-item and best-customer gates.
_Q23 = (
    Edit("having count(*) >4", "having count(*) > 1",
         "threshold retargeted: below sf0.1 the derived data repeats an item"
         " on a day at most 2-3 times"),
    *(Edit(f"sum(ss_quantity*ss_sales_price) {alias}",
           f"SUM({_dprod('ss_quantity', 'ss_sales_price')}) {alias}", _MONEY)
      for alias in ("csales", "ssales")),
    Edit("having sum(ss_quantity*ss_sales_price) > (95/100.0) * (select * from"
         " max_store_sales)",
         "having CAST(SUM("
         f"{_dprod('ss_quantity', 'ss_sales_price')}) AS DOUBLE)"
         " > CAST(95/100.0 AS DOUBLE)"
         " * (select CAST(tpcds_cmax AS DOUBLE) from max_store_sales)",
         "the spend comparison in DOUBLE on both sides"),
    Edit("d_year = 1999 and d_moy = 1", "d_year = 1998 + 2 and d_moy = 6",
         "June 2000, inside the retargeted years", n=2),
)


def _q23(*windows: str) -> tuple[Edit, ...]:
    """_Q23 plus the statement's two four-year windows, spelled as the
    reference spells them."""
    return (*(Edit(w, "1998, 1998 + 1, 1998 + 2, 1998 + 3",
                   "four years from 1998: the derived calendar ends 2001-08",
                   windows.count(w)) for w in dict.fromkeys(windows)), *_Q23)


# q39/q39b: the coefficient of variation over exact moments.
_Q39 = (
    Edit("stddev_samp(inv_quantity_on_hand)", _stddev("inv_quantity_on_hand"),
         _STDEV),
    _avg("inv_quantity_on_hand"),
    Edit("stdev/mean end > 1", "stdev/mean end > 0.4",
         "cov threshold retargeted: the derived inventory's cov tops out"
         " near 0.6"),
    Edit("select inv1.w_warehouse_sk,inv1.i_item_sk,inv1.d_moy,inv1.mean,"
         " inv1.cov ,inv2.w_warehouse_sk,inv2.i_item_sk,inv2.d_moy,inv2.mean,"
         " inv2.cov",
         "select " + ", ".join(
             f"CAST(inv{i}.{c} AS BIGINT) AS {a}{i}" if a else
             f"inv{i}.{c} AS {c}{i}" for i in (1, 2)
             for c, a in (("w_warehouse_sk", "wsk"), ("i_item_sk", "isk"),
                          ("d_moy", "moy"), ("mean", ""), ("cov", ""))),
         "the two months' columns renamed apart, BIGINT keys in both engines"),
)

# q4 groups year_total by the customer columns the answer reads, and so
# does not report the email address.  Interleaved A/B over the stored star,
# min of 10 runs at sf0.1 and of 6 at .scale/sf1 on 4 cores: 1.15 -> 0.83 s
# and 4.58 -> 3.95 s.  Pushing d_year IN (2000, 2001) into year_total as
# well gained nothing measurable (0.77 s and 3.77 s), so it is not kept.
_Q4_NARROW = ("year_total without four unread customer columns: 1.15 -> 0.83 s"
              " at sf0.1, 4.58 -> 3.95 s at .scale/sf1")

# q67's rollup keys and exact sum (its final is respelled over them, see
# _respell below).
_Q67_KEYS = ("i_category, i_class, i_brand, i_product_name, d_year, d_qoy,"
             " d_moy, s_store_id")
_Q67_SUM = f"SUM({sql_dec('coalesce(ss_sales_price*ss_quantity,0)')})"

# q14/q14b: the all-channel mean ticket and each channel's sales, from exact
# quantity * list_price products.  The mean's product is taken in each
# UNION ALL leg: taken over the UNION output instead, q14 ran 8.97 s
# against 7.97 s (median of 14 interleaved runs at .scale/sf1, rows
# identical; SCALE.md).
_Q14_AVG = (
    Edit("avg(quantity*list_price) average_sales",
         "CAST(SUM(amt) AS DOUBLE) / COUNT(*) average_sales", _AVG),
    *(Edit(f"select {p}_quantity quantity ,{p}_list_price list_price",
           f"select {_dprod(f'{p}_quantity', f'{p}_list_price')} amt", _MONEY)
      for p in ("ss", "cs", "ws")),
)


def _q14_sales(p: str, n: int = 1) -> tuple[Edit, ...]:
    """A channel's sales, kept DECIMAL, and its HAVING sum as a DOUBLE."""
    prod = _dprod(f"{p}_quantity", f"{p}_list_price")
    return (Edit(f"sum({p}_quantity*{p}_list_price) sales",
                 f"SUM({prod}) sales", _MONEY, n),
            Edit(f"having sum({p}_quantity*{p}_list_price)",
                 f"having CAST(SUM({prod}) AS DOUBLE)", _MONEY, n))


# q8's 400 zips, as its reference statement spells them.
_Q8_ZIPS = re.search(r"IN \(([^)]*)\)", _reference("tpcds_q8")).group(1)

# The generated entries: name -> the edits that adapt its reference
# statement to the derived star.  An empty list runs the text verbatim.
_EDITS: dict[str, tuple[Edit, ...]] = {
    "tpcds_q1": (),
    "tpcds_q2": (
        *(Edit(f"round({d}_sales1/{d}_sales2,2)",
               f"ROUND(CAST({d}_sales1 AS DOUBLE)"
               f" / CAST({d}_sales2 AS DOUBLE), 2) AS {d}_r",
               "named ratios of the exact sums, as DOUBLE")
          for d in ("sun", "mon", "tue", "wed", "thu", "fri", "sat")),
        Edit("d_year = 2001", "d_year = 2000",
             _YEARS, n=2),
    ),
    "tpcds_q3": (),
    "tpcds_q4": (
        Edit("sum(((ss_ext_list_price-ss_ext_wholesale_cost"
             "-ss_ext_discount_amt)+ss_ext_sales_price)/2)",
             "CAST(sum((ss_ext_list_price-ss_ext_wholesale_cost"
             "-ss_ext_discount_amt)+ss_ext_sales_price) AS DOUBLE)/2", _RATIO),
        *(Edit(f"sum(((({p}_ext_list_price-{p}_ext_wholesale_cost"
               f"-{p}_ext_discount_amt)+{p}_ext_sales_price)/2) )",
               f"CAST(sum(({p}_ext_list_price-{p}_ext_wholesale_cost"
               f"-{p}_ext_discount_amt)+{p}_ext_sales_price) AS DOUBLE)/2",
               _RATIO)
          for p in ("cs", "ws")),
        Edit("2001", "2000", _YEARS,
             n=6),
        *(Edit(old, "", _Q4_NARROW, n) for old, n in (
            (",c_preferred_cust_flag customer_preferred_cust_flag"
             " ,c_birth_country customer_birth_country ,c_login customer_login"
             " ,c_email_address customer_email_address", 3),
            (",c_preferred_cust_flag ,c_birth_country ,c_login"
             " ,c_email_address", 3),
            (",t_s_secyear.customer_email_address", 2))),
    ),
    "tpcds_q5": (
        Edit("sum(return_amt) as returns", "sum(return_amt) as returns_",
             _RETURNS_, n=3),
        Edit(", sales , returns , (profit - profit_loss)",
             ", sales, returns_, (profit - profit_loss)", _RETURNS_, n=3),
        *_PNL,
    ),
    "tpcds_q6": (
        Edit("1.2 *", "1.02 *", _RETARGET),
    ),
    "tpcds_q7": tuple(_avg(c) for c in (
        "ss_list_price", "ss_coupon_amt", "ss_sales_price")),
    "tpcds_q8": (
        _named("ss_net_profit", "sum_profit"),
        Edit(_Q8_ZIPS,
             "'00131','00262','00393','00524','00655','00786','00917','01048',"
             "'01179','01310','01441','01572','01703','01834','01965','02096',"
             "'02227','02358','02489','02620','03013','03275','03537','03930',"
             "'04323','04585','05240','05764','06288','06550','07205','07729',"
             "'08253','08777','09432','09956','10480','11004','11528','12052',"
             "'12576'", "zips retargeted to 41 derived 5-character prefixes"),
        Edit("group by ca_zip", "group by substr(ca_zip,1,5)",
             "grouped by the 5-character prefix the select names ca_zip: both"
             " engines bind a bare ca_zip to the base column"),
        Edit("having count(*) > 10", "having count(*) > 4",
             "about 8 preferred customers share a derived prefix at sf0.01"),
        Edit("d_year = 2002", "d_year = 2001", _CALENDAR),
    ),
    "tpcds_q9": (
        _avg("ss_ext_tax", n=5),
        _avg("ss_net_paid", n=5),
    ),
    "tpcds_q10": (
        Edit("'Walker County','Richland County','Gaines County',"
             "'Douglas County','Dona Ana County'",
             "'county_1','county_3','county_5','county_7','county_9'",
             _RETARGET),
        Edit("d_year = 2002", "d_year = 2000", _CALENDAR,
             n=3),
    ),
    "tpcds_q11": (
        *(_fsum(f"{p}_ext_list_price-{p}_ext_discount_amt")
          for p in ("ss", "ws")),
        Edit("2001", "2000", _YEARS,
             n=4),
    ),
    "tpcds_q12": _share("ws_ext_sales_price"),
    "tpcds_q13": (
        _named("ss_ext_wholesale_cost", "sum_wholesale"),
        Edit("avg(ss_quantity)", "avg(ss_quantity) avg_qty", _ALIAS),
        _avg("ss_ext_sales_price", "avg_ext_price"),
        _avg("ss_ext_wholesale_cost", "avg_wholesale"),
        *_PRICE_BANDS,
        Edit("'CO', 'IL', 'MN'", "'CA', 'WA', 'GA'", _RETARGET),
        Edit("'OH', 'MT', 'NM'", "'OH', 'TX', 'NM'", _RETARGET),
        Edit("'TX', 'MO', 'MI'", "'NY', 'FL', 'MI'", _RETARGET),
        Edit("100 and 200", "1000 and 2000", _RETARGET),
        Edit("150 and 300", "2000 and 3000", _RETARGET),
        Edit("50 and 250", "1500 and 2500", _RETARGET),
    ),
    "tpcds_q14": (
        *_Q14_AVG,
        *(e for p in ("ss", "cs", "ws") for e in _q14_sales(p)),
        Edit("sum(sales),", "sum(sales) sum_sales,", _ALIAS),
        Edit("sum(number_sales)",
             "CAST(SUM(number_sales) AS BIGINT) AS sum_number_sales",
             _HUGEINT),
        Edit("order by channel,i_brand_id,i_class_id,i_category_id",
             "order by channel NULLS FIRST, i_brand_id NULLS FIRST,"
             " i_class_id NULLS FIRST, i_category_id NULLS FIRST", _NULLS),
    ),
    "tpcds_q14b": (
        *_Q14_AVG,
        *_q14_sales("ss", 2),
    ),
    "tpcds_q15": (
        _named("cs_sales_price", "sum_sales"),
    ),
    "tpcds_q16": _order_totals("cs"),
    "tpcds_q17": tuple(Edit(f"stddev_samp({c})", _stddev(c), _STDEV, n=2)
                       for c in ("ss_quantity", "sr_return_quantity",
                                 "cs_quantity")),
    "tpcds_q18": (
        *(_avg(f"cast({c} as decimal(12,2))",
               old=f"avg( cast({c} as decimal(12,2)))") for c in (
            "cs_quantity", "cs_list_price", "cs_coupon_amt", "cs_sales_price",
            "cs_net_profit", "c_birth_year", "cd1.cd_dep_count")),
        Edit("'ND','WI','AL' ,'NC','OK','MS','TN'",
             "'NY','WA','AL','NC','OK','FL','TN'", _RETARGET),
        Edit("order by ca_country, ca_state, ca_county, i_item_id",
             "order by ca_country ASC NULLS FIRST, ca_state ASC NULLS FIRST,"
             " ca_county ASC NULLS FIRST, i_item_id ASC NULLS FIRST", _NULLS),
    ),
    "tpcds_q19": (),
    "tpcds_q20": _share("cs_ext_sales_price"),
    "tpcds_q21": (
        Edit("sum(case", "CAST(sum(case", _HUGEINT, n=2),
        Edit("else 0 end) as inv_", "else 0 end) AS BIGINT) as inv_", _HUGEINT,
             n=2),
        Edit("0.99 and 1.49", "920 and 930", _RETARGET),
    ),
    "tpcds_q22": (
        _avg("inv_quantity_on_hand"),
        Edit("1212 and 1212", "1248 and 1248", _SEQ),
        Edit("order by qoh, i_product_name, i_brand, i_class, i_category",
             "order by qoh ASC NULLS FIRST, i_product_name ASC NULLS FIRST,"
             " i_brand ASC NULLS FIRST, i_class ASC NULLS FIRST,"
             " i_category ASC NULLS FIRST", _NULLS),
    ),
    "tpcds_q23": (
        *_q23("1999,1999+1,1999+2,1999+3", "1999,1999+1,1999+2,1999+3"),
        Edit("select sum(sales)", "select sum(sales) sum_sales", _ALIAS),
        *(Edit(f"{p}_quantity*{p}_list_price sales",
               f"{_dprod(f'{p}_quantity', f'{p}_list_price')} sales", _MONEY)
          for p in ("cs", "ws")),
    ),
    "tpcds_q23b": (
        *_q23("1999,1999 + 1,1999 + 2,1999 + 3", "1999,1999+1,1999+2,1999+3"),
        *(Edit(f"sum({p}_quantity*{p}_list_price) sales",
               f"SUM({_dprod(f'{p}_quantity', f'{p}_list_price')}) sales",
               _MONEY)
          for p in ("cs", "ws")),
    ),
    "tpcds_q24": _Q24,
    "tpcds_q24b": _Q24,
    "tpcds_q25": (),
    "tpcds_q26": tuple(_avg(c) for c in (
        "cs_list_price", "cs_coupon_amt", "cs_sales_price")),
    "tpcds_q27": (
        Edit("grouping(s_state) g_state",
             "CAST(grouping(s_state) AS INT) g_state", _INT),
        *(_avg(c) for c in ("ss_list_price", "ss_coupon_amt",
                            "ss_sales_price")),
        Edit("d_year = 2002", "d_year = 2000", _CALENDAR),
        Edit("order by i_item_id ,s_state",
             "order by i_item_id ASC NULLS FIRST, s_state ASC NULLS FIRST",
             _NULLS),
    ),
    "tpcds_q28": (
        _avg("ss_list_price", n=6),
        *(Edit(f"B{i}_{c}", f"b{i}_{c.lower()}", "lower-case column names")
          for i in range(1, 7) for c in ("LP", "CNTD", "CNT")),
        *(e for lp, new_lp, coupon, new_coupon in (
            ("11 and 11+10", "1000 and 1000 + 1000",
             "460 and 460+1000", "0.00 and 0.02"),
            ("91 and 91+10", "9000 and 9000 + 1000",
             "1430 and 1430+1000", "0.02 and 0.04"),
            ("66 and 66+10", "6000 and 6000 + 1000",
             "920 and 920+1000", "0.04 and 0.06"),
            ("142 and 142+10", "14000 and 14000 + 1000",
             "3054 and 3054+1000", "0.06 and 0.08"),
            ("135 and 135+10", "13000 and 13000 + 1000",
             "14180 and 14180+1000", "0.08 and 0.10"),
            ("28 and 28+10", "2000 and 2000 + 1000",
             "2513 and 2513+1000", "0.01 and 0.03"))
          for e in (Edit(lp, new_lp, "list-price band retargeted to the"
                         " derived prices (about 900 to 105,000)"),
                    Edit(coupon, new_coupon, "coupon band retargeted to the"
                         " derived coupons (l_discount, 0 to 0.1)"))),
    ),
    "tpcds_q29": (),
    "tpcds_q30": (
        Edit("d_year =2002", "d_year = 2000", _CALENDAR),
        Edit("'IL'", "'GA'", "state retargeted to a derived state"),
    ),
    "tpcds_q31": tuple(
        Edit(f"{a}/{b}", f"CAST({a} AS DOUBLE) / CAST({b} AS DOUBLE)",
             "DOUBLE ratios of the exact sums", n=2)
        for a, b in (("ws2.web_sales", "ws1.web_sales"),
                     ("ss2.store_sales", "ss1.store_sales"),
                     ("ws3.web_sales", "ws2.web_sales"),
                     ("ss3.store_sales", "ss2.store_sales"))),
    "tpcds_q32": _excess("cs", "excess discount amount"),
    "tpcds_q33": (
        Edit("'Books'", "'SMALL'", _CATEGORY,
             n=3),
        Edit("order by total_sales", "order by total_sales, i_manufact_id",
             _TIEBREAK),
    ),
    "tpcds_q34": (
        Edit("cnt between 15 and 20", "cnt between 2 and 4", _RETARGET),
    ),
    "tpcds_q35": tuple(e for c, s in (("cd_dep_count", "dep"),
                                      ("cd_dep_employed_count", "emp"),
                                      ("cd_dep_college_count", "col"))
                       for e in (
        _avg(c, f"avg_{s}"),
        Edit(f"max({c})", f"max({c}) max_{s}", _ALIAS),
        Edit(f"sum({c})", f"CAST(sum({c}) AS BIGINT) sum_{s}", _HUGEINT))),
    "tpcds_q36": (
        _fsum("ss_net_profit", n=2),
        _fsum("ss_ext_sales_price", n=2),
        *_ROLLUP_RANK,
    ),
    "tpcds_q37": (
        Edit("22 and 22 + 30", "920 and 920 + 30", _RETARGET),
        Edit("678,964,918,849", "178, 464, 418, 349", _RETARGET),
    ),
    "tpcds_q38": (
        Edit("select count(*)", "select count(*) n_hot_cust", _ALIAS),
        Edit("1212 and 1212", "1248 and 1248", _SEQ, n=3),
    ),
    "tpcds_q39": _Q39,
    "tpcds_q39b": (
        *_Q39,
        Edit("inv1.cov > 1.5", "inv1.cov > 0.6",
             "spike threshold scaled as the cov threshold is"),
    ),
    "tpcds_q40": (
        Edit("0.99 and 1.49", "920 and 935", _RETARGET),
    ),
    "tpcds_q42": (
        Edit("sum(ss_ext_sales_price) from", "sum(ss_ext_sales_price) sum_sales"
             " from", _ALIAS),
        Edit("order by sum(ss_ext_sales_price) desc",
             "order by sum_sales desc", _ALIAS),
    ),
    "tpcds_q43": (),
    "tpcds_q44": (
        _avg("ss_net_profit", n=6),
        Edit("ss_store_sk = 50", "ss_store_sk = 4",
             "store retargeted to the ten derived stores", n=4),
        *(Edit(f"rank() over (order by rank_col {d}) rnk",
               f"CAST(rank() over (order by rank_col {d}) AS BIGINT) rnk",
               _INT)
          for d in ("asc", "desc")),
    ),
    "tpcds_q45": (
        _named("ws_sales_price", "sum_sales"),
    ),
    "tpcds_q46": (),
    "tpcds_q47": (
        *_monthly("ss", "i_category, i_brand, s_store_name, s_company_name,"
                  " d_year"),
        Edit("nsum limit", "nsum, i_category, i_brand, d_moy, psum limit",
             _TIEBREAK),
    ),
    "tpcds_q48": (
        _named("ss_quantity", "sum_qty", old="sum (ss_quantity)"),
        *_PRICE_BANDS,
        Edit("'KY', 'GA', 'NM'", "'CA', 'GA', 'NY'", _RETARGET),
        Edit("'MT', 'OR', 'IN'", "'TX', 'OH', 'WA'", _RETARGET),
        Edit("'WI', 'MO', 'WV'", "'FL', 'MO', 'WV'", _RETARGET),
    ),
    "tpcds_q49": (
        Edit("as decimal(15,4))/", "AS DOUBLE)/", _RATIO, n=6),
        Edit("as decimal(15,4) ))", "AS DOUBLE))", _RATIO, n=6),
        Edit("> 10000", "> 1000", "return amount retargeted: a derived return"
             " is a tenth of its line's price, 10500 at most", n=3),
        *(Edit(f"rank() over (order by {m}_ratio) as {m}_rank",
               f"CAST(rank() over (order by {m}_ratio) AS BIGINT)"
               f" as {m}_rank", _INT, n=3) for m in ("return", "currency")),
    ),
    "tpcds_q50": _LAG_BUCKETS,
    "tpcds_q51": (
        Edit("1212 and 1212", "1248 and 1248", _SEQ, n=2),
        Edit("where web_cumulative > store_cumulative",
             "where web_cumulative * 5 > store_cumulative",
             "threshold retargeted: the derived web channel is a quarter of"
             " the store channel"),
    ),
    "tpcds_q52": (),
    "tpcds_q53": (
        *_monthly("ss", "i_manufact_id"),
        *_ITEM_SETS,
    ),
    "tpcds_q54": (
        Edit("'Jewelry'", "'STANDARD'", _CATEGORY),
        Edit("'consignment'", "'CLASS#3'",
             "class retargeted to a derived class"),
        Edit("and ca_county = s_county", "", "states only: derived stores and"
             " addresses share no county"),
        Edit("cast((revenue/50) as int)",
             "CAST(FLOOR(CAST(revenue AS DOUBLE) / 50) AS INT)",
             "floor in both engines (DuckDB rounds a cast to int)"),
    ),
    "tpcds_q55": (
        Edit("d_year=2001", "d_year=2000",
             "the derived calendar ends 2001-08, so December 2001 is empty"),
    ),
    "tpcds_q56": (),
    "tpcds_q57": (
        *_monthly("cs", "i_category, i_brand, cc_name, d_year"),
        Edit("nsum limit", "nsum, cc_name, d_moy, psum, sum_sales limit",
             _TIEBREAK),
    ),
    "tpcds_q58": (
        *(_fsum(f"{p}_ext_sales_price") for p in ("ss", "cs", "ws")),
        Edit("0.9 *", "0.2 *", "band widened: the derived channels differ in"
             " size", n=6),
        Edit("1.1 *", "5.0 *", "band widened: the derived channels differ in"
             " size", n=6),
        Edit("order by item_id", "order by ss_items.item_id",
             "qualified order key: DuckDB finds item_id ambiguous"),
    ),
    "tpcds_q59": (
        *(Edit(f"{d}_sales1/{d}_sales2",
               f"CAST({d}_sales1 AS DOUBLE)"
               f" / NULLIF(CAST({d}_sales2 AS DOUBLE), 0) AS {d}_ratio",
               "named DOUBLE ratios, NULL over a zero week")
          for d in ("sun", "mon", "tue", "wed", "thu", "fri", "sat")),
        Edit("1185", "1236", "month seq 1185 (1990) precedes the derived"
             " calendar (1995-2001)", n=4),
    ),
    "tpcds_q60": (
        Edit("'Children'", "'PROMO'", _CATEGORY,
             n=3),
    ),
    "tpcds_q61": (
        Edit("select promotions,total,cast(promotions as decimal(15,4))"
             "/cast(total as decimal(15,4))*100",
             "select promotions, total, CAST(promotions AS DOUBLE) / CAST(total"
             " AS DOUBLE) * 100 AS promo_pct",
             "a named DOUBLE ratio (decimal quotient scales differ between the"
             " engines)"),
        Edit("'Books'", "'ECONOMY'", _CATEGORY,
             n=2),
    ),
    "tpcds_q62": (
        Edit("select substr(w_warehouse_name,1,20)",
             "select substr(w_warehouse_name,1,20) AS wh_name", _ALIAS),
        *_LAG_BUCKETS,
        Edit("1212 and 1212", "1248 and 1248", _SEQ),
    ),
    "tpcds_q63": (
        *_monthly("ss", "i_manager_id"),
        *_ITEM_SETS,
    ),
    "tpcds_q64": (
        Edit("'maroon','burnished','dim','steel','navajo','chocolate'",
             "'orchid', 'chiffon', 'lace', 'navy', 'salmon', 'peru'",
             "colors retargeted to six of the eight derived colors"),
        Edit("35 and 35 + 10 and i_current_price between 35 + 1 and 35 + 15",
             "920 and 920 + 50"
             " and i_current_price between 920 + 1 and 920 + 65",
             "price bands retargeted to the derived prices (900 to 1000)"),
        Edit(",cs2.syear ,cs2.cnt", ",cs2.syear AS syear2 ,cs2.cnt AS cnt2",
             "the second year's syear and cnt renamed apart from the first's"),
        Edit("order by cs1.product_name ,cs1.store_name ,cs2.cnt ,cs1.s1"
             " ,cs2.s1",
             "order by cs1.product_name ,cs1.store_name ,cnt2 ,s11 ,s12",
             _UNPARSE),
    ),
    "tpcds_q65": (
        Edit("avg(revenue) as ave", f"{_avg_of('revenue')} as ave", _AVG),
        Edit("1212 and 1212", "1272 and 1272", _SEQ, n=2),
        Edit("order by s_store_name, i_item_desc",
             "order by s_store_name, i_item_desc, sc.ss_store_sk,"
             " sc.ss_item_sk", _TIEBREAK),
    ),
    "tpcds_q66": (
        *(Edit(f"then {p}_{price}* {p}_quantity else 0 end",
               f"then {_dprod(f'{p}_quantity', f'{p}_{price}')}"
               f" else {sql_dec('0')} end", _MONEY, n=12)
          for p, price in (("ws", "sales_price"), ("cs", "ext_sales_price"))),
        Edit("then ws_net_paid_inc_tax * ws_quantity else 0 end",
             f"then {_dprod('ws_quantity', 'ws_net_paid_inc_tax')}"
             f" else {sql_dec('0')} end", _MONEY, n=12),
        Edit("then cs_net_paid_inc_ship_tax * cs_quantity else 0 end",
             f"then {_dprod('cs_quantity', 'cs_net_paid_inc_tax')}"
             f" else {sql_dec('0')} end", "exact product sums of"
             " cs_net_paid_inc_tax: the derived catalog_sales carries no"
             " shipping cost", n=12),
        Edit("_sales/w_warehouse_sq_ft)",
             "_sales/CAST(w_warehouse_sq_ft AS DOUBLE))", "per square foot in"
             " DOUBLE (Spark divides decimals exactly); a group sums at most"
             " two, so the DOUBLE sum is order-independent", n=12),
        Edit("d_year = 2002", "d_year = 2000",
             "year 2000: the derived calendar ends 2001-08", n=2),
    ),
    "tpcds_q67": (
        Edit("sum(coalesce(ss_sales_price*ss_quantity,0)) sumsales",
             f"{_Q67_SUM} sumsales", _MONEY),
        Edit("rank() over (partition by i_category order by sumsales desc) rk",
             "CAST(rank() over (partition by i_category order by sumsales"
             " desc) AS BIGINT) rk", _INT),
        Edit("1212 and 1212", "1248 and 1248", _SEQ),
        Edit("order by i_category ,i_class ,i_brand ,i_product_name ,d_year"
             " ,d_qoy ,d_moy ,s_store_id",
             "order by " + ", ".join(f"{c} ASC NULLS FIRST"
                                     for c in _Q67_KEYS.split(", ")), _NULLS),
    ),
    "tpcds_q68": (),
    "tpcds_q69": (
        Edit("'CO','IL','MN'", "'CA','GA','TX'", _RETARGET),
    ),
    "tpcds_q70": (
        Edit("grouping(s_state)+grouping(s_county) as lochierarchy",
             "CAST(grouping(s_state)+grouping(s_county) AS INT)"
             " as lochierarchy", _INT),
        Edit("rank() over ( partition by grouping",
             "CAST(rank() over ( partition by grouping", _INT),
        Edit(") as rank_within_parent", ") AS BIGINT) as rank_within_parent",
             _INT),
        Edit("1212 and 1212", "1248 and 1248", _SEQ, n=2),
        Edit("then s_state end ,rank_within_parent",
             "then s_state end ASC NULLS FIRST ,rank_within_parent", _NULLS),
        Edit("select s_state as s_state,", "select s_state,", _UNPARSE),
    ),
    "tpcds_q71": (),
    "tpcds_q73": (),
    "tpcds_q74": (
        Edit("2001", "2000", _YEARS,
             n=8),
    ),
    "tpcds_q75": (
        Edit("'Sports'", "'STANDARD'", _CATEGORY,
             n=3),
        Edit("curr_yr.d_year AS year", "curr_yr.d_year AS year_",
             "column named year_: YEAR is an SQL keyword"),
        Edit("2002", "2000", "years 1999-2000: the derived calendar ends"
             " 2001-08", n=2),
        Edit("CAST(curr_yr.sales_cnt AS DECIMAL(17,2))/CAST(prev_yr.sales_cnt"
             " AS DECIMAL(17,2))<0.9",
             "CAST(curr_yr.sales_cnt AS DOUBLE)"
             " / CAST(NULLIF(prev_yr.sales_cnt, 0) AS DOUBLE) < 0.9",
             "DOUBLE ratio, NULL over a zero count (Spark raises on a decimal"
             " division by zero)"),
        Edit("ORDER BY sales_cnt_diff,sales_amt_diff",
             "ORDER BY sales_cnt_diff,sales_amt_diff, curr_yr.i_brand_id,"
             " curr_yr.i_class_id, curr_yr.i_category_id,"
             " curr_yr.i_manufact_id", _TIEBREAK),
    ),
    "tpcds_q76": (),
    "tpcds_q77": (
        Edit("as returns,", "as returns_,", _RETURNS_, n=3),
        Edit("coalesce(returns, 0) as returns",
             "coalesce(returns_, 0) as returns_", _RETURNS_),
        Edit("coalesce(returns, 0) returns", "coalesce(returns_, 0) returns_",
             _RETURNS_),
        Edit(", sales , returns , (profit - profit_loss)",
             ", sales, returns_, (profit - profit_loss)", _RETURNS_),
        *_PNL,
    ),
    "tpcds_q78": (
        Edit("round(ss_qty/(coalesce(ws_qty,0)+coalesce(cs_qty,0)),2) ratio",
             "CAST(ROUND(CAST(ss_qty AS DOUBLE)"
             " / (COALESCE(CAST(ws_qty AS DOUBLE), 0)"
             " + COALESCE(CAST(cs_qty AS DOUBLE), 0)), 2) AS DOUBLE) ratio",
             "the ratio rounds a DOUBLE quotient in both engines"),
    ),
    "tpcds_q79": (
        Edit("substr(s_city,1,30),ss_ticket_number",
             "substr(s_city,1,30) s_city30,ss_ticket_number", _ALIAS),
        Edit("profit limit", "profit, ss_ticket_number limit", _TIEBREAK),
    ),
    "tpcds_q80": (
        Edit("0)) as returns", "0)) as returns_", _RETURNS_, n=3),
        Edit("i_current_price > 50", "i_current_price > 950",
             "the expensive half of the derived prices (900 to 1000)", n=3),
        Edit(", sales , returns , profit", ", sales, returns_, profit",
             _RETURNS_, n=3),
        *_PNL,
    ),
    "tpcds_q81": (
        Edit("'IL'", "'GA'", "state retargeted to a derived state"),
    ),
    "tpcds_q82": (
        Edit("30 and 30+30", "920 and 920 + 30", _RETARGET),
        Edit("'2002-05-30'", "'2000-05-30'",
             _CALENDAR, n=2),
        Edit("727,663", "227, 163", _RETARGET),
    ),
    "tpcds_q83": (
        Edit("'1998-01-02','1998-10-15','1998-11-10'",
             "'1998-01-02','1998-02-12','1998-03-05','1998-05-20',"
             "'1998-07-07','1998-08-14','1998-09-22','1998-10-15',"
             "'1998-11-10'",
             "nine anchor weeks, not three: the quarter-slice derived channels"
             " share no item over three weeks", n=3),
    ),
    "tpcds_q84": (
        Edit("'Hopewell'", "'city_7'", "city retargeted to a derived city"),
    ),
    "tpcds_q85": (
        Edit("select substr(r_reason_desc,1,20) ,avg(ws_quantity)"
             " ,avg(wr_refunded_cash) ,avg(wr_fee)",
             "select substr(r_reason_desc,1,20) reason_prefix"
             " ,avg(ws_quantity) avg_qty"
             f" ,{_avg_of('wr_refunded_cash')} avg_refunded"
             f" ,{_avg_of('wr_fee')} avg_fee", f"{_AVG}; {_ALIAS}"),
        Edit("order by substr(r_reason_desc,1,20) ,avg(ws_quantity)"
             " ,avg(wr_refunded_cash) ,avg(wr_fee)",
             "order by reason_prefix, avg_qty, avg_refunded, avg_fee", _ALIAS),
        *_PRICE_BANDS,
        Edit("'KY', 'GA', 'NM'", "'CA', 'GA', 'NY'", _RETARGET),
        Edit("'MT', 'OR', 'IN'", "'TX', 'OH', 'WA'", _RETARGET),
        Edit("'WI', 'MO', 'WV'", "'FL', 'NY', 'CA'", _RETARGET),
        Edit("100 and 200", "1000 and 2000", _RETARGET),
        Edit("150 and 300", "1500 and 3000", _RETARGET),
        Edit("50 and 250", "1200 and 2500", _RETARGET),
    ),
    "tpcds_q86": (
        *_ROLLUP_RANK,
        Edit("1212 and 1212", "1248 and 1248", _SEQ),
    ),
    "tpcds_q87": (
        Edit("select count(*)", "select count(*) n_cool_cust", _ALIAS),
        Edit("1212 and 1212", "1248 and 1248", _SEQ, n=3),
    ),
    "tpcds_q88": (
        Edit("'ese'", "'store_3'", "store name retargeted to a derived store",
             n=8),
    ),
    "tpcds_q89": (
        *_monthly("ss", "i_category, i_brand, s_store_name, s_company_name"),
        Edit("'Home','Books','Electronics'", "'ECONOMY','STANDARD','LARGE'",
             _RETARGET),
        Edit("'wallpaper','parenting','musical'",
             "'CLASS#0','CLASS#1','CLASS#2'", _RETARGET),
        Edit("'Shoes','Jewelry','Men'", "'MEDIUM','SMALL','PROMO'", _RETARGET),
        Edit("'womens','birdal','pants'", "'CLASS#4','CLASS#5','CLASS#6'",
             _RETARGET),
        Edit("s_store_name limit",
             "s_store_name, i_category, i_class, i_brand, d_moy limit",
             _TIEBREAK),
    ),
    "tpcds_q90": (
        Edit("cast(amc as decimal(15,4))/cast(pmc as decimal(15,4))",
             "CAST(amc AS DOUBLE) / NULLIF(CAST(pmc AS DOUBLE), 0)",
             "DOUBLE ratio, NULL when no pm sales (decimal quotient scales"
             " differ between the engines)"),
        Edit(") at,", ") at_t,", "`at` is a DuckDB keyword"),
    ),
    "tpcds_q91": (
        Edit("cc_call_center_id Call_Center, cc_name Call_Center_Name,"
             " cc_manager Manager, sum(cr_net_loss) Returns_Loss",
             "cc_call_center_id call_center, cc_name call_center_name,"
             " cc_manager manager, sum(cr_net_loss) returns_loss",
             "lower-case column names"),
        Edit("and d_moy = 11", "", "the whole year: November alone has no"
             " derived call-center returns"),
        Edit("order by sum(cr_net_loss) desc", "order by returns_loss desc",
             _ALIAS),
    ),
    "tpcds_q92": _excess("ws", "Excess Discount Amount"),
    "tpcds_q93": (
        Edit("sum(act_sales)", sql_dsum("act_sales"), _MONEY),
    ),
    "tpcds_q94": _order_totals("ws"),
    "tpcds_q95": (
        *_order_totals("ws"),
        Edit("'TX'", "'GA'", "state retargeted to a derived state"),
    ),
    "tpcds_q96": (
        Edit("select count(*)", "select count(*) cnt", _ALIAS),
        Edit("'ese'", "'store_3'", "store name retargeted to a derived store"),
        Edit("order by count(*)", "order by cnt", _ALIAS),
    ),
    "tpcds_q97": (
        Edit("1212 and 1212", "1248 and 1248", _SEQ, n=2),
        Edit("sum(case", "CAST(sum(case", _HUGEINT, n=3),
        Edit("else 0 end)", "else 0 end) AS BIGINT)", _HUGEINT, n=3),
    ),
    "tpcds_q98": _share("ss_ext_sales_price"),
    "tpcds_q99": (
        Edit("select substr(w_warehouse_name,1,20)",
             "select substr(w_warehouse_name,1,20) AS wh_name", _ALIAS),
        *_LAG_BUCKETS,
        Edit("1212 and 1212", "1248 and 1248", _SEQ),
    ),
}

# The hand-written entries: name -> why an edit list does not fit.  Their
# bodies are registered below with _register, as the generated ones are.
_HAND = {
    "tpcds_q41": "the correlated OR is factored: Spark rejects a correlated"
                 " equality under OR",
    "tpcds_q72": "joins inventory on item and week at once, not on item"
                 " alone: 3.96 -> 3.74 s at sf0.1, 21.7 -> 17.5 s at"
                 " .scale/sf1 (interleaved A/B, min)",
}

for _name, _edits in _EDITS.items():
    _whys = "; ".join(dict.fromkeys(e.why for e in _edits)) or "none"
    _register(_name, _generate(_name, _edits),
              f"TPC-DS {_name[6:]} (tpcds_sql/{_name[7:].rstrip('b')}.sql)"
              f" over the derived star.  Edits: {_whys}.")


# cross_sales groups by d1.d_year (syear) and the final keeps only syear
# 2000 (cs1) and 2001 (cs2).  ss_sold_date_sk = d1.d_date_sk, and d_date_sk
# grows with d_date, so store sales before 2000-01-01 feed only discarded
# groups.  Dropping them before the joins ran 5.10 s min against 8.10 s at
# .scale/sf1 (4 interleaved runs, rows identical).
_respell(
    "tpcds_q64",
    "store_sales AS (SELECT * FROM tpcds_store_sales)",
    "store_sales AS (SELECT * FROM tpcds_store_sales WHERE ss_sold_date_sk"
    " >= " + _date_sk("DATE '2000-01-01'") + ")")


# Spark runs q67's rollup in two phases: GROUP BY the 8-column finest grain
# first, then ROLLUP over the partial sums, so Expand (9 grouping sets)
# runs over the compacted groups instead of every fact row.  Every rollup
# level coarsens the finest grain and DECIMAL addition is exact, so SUM(ps)
# per grouping set equals the one-phase SUM.  At .scale/sf1 it ran 5.33 s
# min against 7.46 s one-phase (4 interleaved runs, rows identical).
_Q67_FROM = ("from store_sales ,date_dim ,store ,item"
             " where ss_sold_date_sk=d_date_sk and ss_item_sk=i_item_sk"
             " and ss_store_sk = s_store_sk"
             " and d_month_seq between 1248 and 1248+11")
_respell(
    "tpcds_q67",
    f"{_Q67_SUM} sumsales {_Q67_FROM} group by rollup(",
    f"SUM(ps) AS sumsales from (select {_Q67_KEYS}, {_Q67_SUM} AS ps"
    f" {_Q67_FROM} group by {_Q67_KEYS}) base group by rollup(")


# The hand-written bodies (see _HAND).


_register(
    "tpcds_q41",
    """
    SELECT DISTINCT i_product_name
    FROM item i1
    WHERE i_manufact_id BETWEEN 242 AND 242 + 40
      AND (SELECT COUNT(*) AS item_cnt
           FROM item
           WHERE i_manufact = i1.i_manufact
             AND (((i_category = 'STANDARD' AND
                    (i_color = 'orchid' OR i_color = 'chiffon') AND
                    (i_units = 'Pound' OR i_units = 'Lb') AND
                    (i_size = 'petite' OR i_size = 'medium'))
                OR (i_category = 'STANDARD' AND
                    (i_color = 'lace' OR i_color = 'navy') AND
                    (i_units = 'Each' OR i_units = 'Unknown') AND
                    (i_size = 'N/A' OR i_size = 'large'))
                OR (i_category = 'ECONOMY' AND
                    (i_color = 'peru' OR i_color = 'ivory') AND
                    (i_units = 'N/A' OR i_units = 'Oz') AND
                    (i_size = 'small' OR i_size = 'large'))
                OR (i_category = 'ECONOMY' AND
                    (i_color = 'slate' OR i_color = 'navy') AND
                    (i_units = 'Box' OR i_units = 'Pound') AND
                    (i_size = 'petite' OR i_size = 'medium')))
               OR ((i_category = 'STANDARD' AND
                    (i_color = 'salmon' OR i_color = 'chiffon') AND
                    (i_units = 'Oz' OR i_units = 'Box') AND
                    (i_size = 'petite' OR i_size = 'medium'))
                OR (i_category = 'STANDARD' AND
                    (i_color = 'ivory' OR i_color = 'slate') AND
                    (i_units = 'Lb' OR i_units = 'Unknown') AND
                    (i_size = 'N/A' OR i_size = 'large'))
                OR (i_category = 'ECONOMY' AND
                    (i_color = 'orchid' OR i_color = 'lace') AND
                    (i_units = 'Each' OR i_units = 'Unknown') AND
                    (i_size = 'small' OR i_size = 'large'))
                OR (i_category = 'ECONOMY' AND
                    (i_color = 'navy' OR i_color = 'peru') AND
                    (i_units = 'Pound' OR i_units = 'Oz') AND
                    (i_size = 'petite' OR i_size = 'medium'))))) > 0
    ORDER BY i_product_name
    LIMIT 100
    """,
    doc="""TPC-DS q41 (reference tpcds_sql/41.sql) executed: product
    names of manufacturers that make at least one item matching a deep
    category/color/units/size disjunction -- a correlated scalar COUNT
    subquery over the same dimension.  One structural adaptation: the
    reference spells the correlation as (corr AND block1) OR (corr AND
    block2); here the common i_manufact correlation is factored out
    (logically identical) because Spark's decorrelation rejects
    correlated equality under OR.  Literals retarget to the derived
    item domains: categories -> synthetic p_type values, colors from
    the 8-color palette, units/sizes from the generated 6/5-value
    domains, manufact-id band 742 -> 242 (the derived i_manufact_id is
    mod-500).""",
)


_register(
    "tpcds_q72",
    """
    SELECT /*+ MERGE(inv2) */
           i_item_desc, w_warehouse_name, d1.d_week_seq AS d_week_seq,
           CAST(SUM(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS no_promo,
           CAST(SUM(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS promo,
           CAST(COUNT(*) AS BIGINT) AS total_cnt
    FROM catalog_sales
    JOIN date_dim d1 ON (cs_sold_date_sk = d1.d_date_sk)
    JOIN date_dim d3 ON (cs_ship_date_sk = d3.d_date_sk)
    JOIN (SELECT inv_item_sk, inv_warehouse_sk, inv_quantity_on_hand,
                 d2.d_week_seq AS inv_week_seq
          FROM inventory
          JOIN date_dim d2 ON (inv_date_sk = d2.d_date_sk)) inv2
      ON (cs_item_sk = inv2.inv_item_sk
          AND d1.d_week_seq = inv2.inv_week_seq)
    JOIN warehouse ON (w_warehouse_sk = inv2.inv_warehouse_sk)
    JOIN item ON (i_item_sk = cs_item_sk)
    JOIN customer_demographics ON (cs_bill_cdemo_sk = cd_demo_sk)
    JOIN household_demographics ON (cs_bill_hdemo_sk = hd_demo_sk)
    LEFT OUTER JOIN promotion ON (cs_promo_sk = p_promo_sk)
    LEFT OUTER JOIN catalog_returns ON (cr_item_sk = cs_item_sk
                                        AND cr_order_number
                                            = cs_order_number)
    WHERE inv2.inv_quantity_on_hand < cs_quantity
      AND cs_ship_date_sk > cs_sold_date_sk + 5
      AND hd_buy_potential = '1001-5000'
      AND d1.d_year = 2001
      AND cd_marital_status = 'M'
    GROUP BY i_item_desc, w_warehouse_name, d1.d_week_seq
    ORDER BY total_cnt DESC, i_item_desc, w_warehouse_name, d_week_seq
    LIMIT 100
    """,
    doc="""TPC-DS q72 (reference tpcds_sql/72.sql) executed: catalog
    orders that outstrip same-week inventory, shipped more than 5 days
    late, for married mid-potential households — the 3-date-role join
    (sold/inventory/ship) plus demographic dims and LEFT JOINs to
    promotion and returns.  catalog_sales gains cs_bill_hdemo_sk;
    counts BIGINT.  ONE deliberate restructure vs the reference text
    (same predicate set, identical rows): the reference spells
    catalog_sales JOIN inventory ON item alone with
    d1.d_week_seq = d2.d_week_seq left in WHERE — a many-to-many
    item-only expansion (every sale row × every inventory snapshot of
    that item) that a cost-based reorderer prunes but Spark's
    syntax-ordered planner executes as written (77s at sf0.01, the
    known q72 join-order hazard).  Pre-joining inventory to its
    date_dim and lifting the week-seq equality INTO the join key makes
    the big join a well-keyed (item, week) equi-join; the year-2001
    broadcast date join prunes the sales side first.  Second
    restructure: the reference's d3.d_date > d1.d_date + INTERVAL 5
    DAY is a cross-dimension inequality that defeats BOTH engines'
    planners (DuckDB alone spent 54s on it at sf0.01 — it blocks
    pushing either date join down); under this schema's derivation
    d_date_sk = datediff(d_date, epoch) + 2450000 is strictly linear
    in d_date, so the predicate is EXACTLY cs_ship_date_sk >
    cs_sold_date_sk + 5 — a fact-local filter that pushes to the
    parquet scan (true for real TPC-DS date_dim too, where date_sk
    is contiguous-by-day).  At 100 TB this is the difference between
    an O(sales×snapshots-per-item) blowup plus an unpushable late
    filter and a pruned scan feeding a composite-key shuffle AQE can
    split.  The MERGE(inv2) hint pins the inventory leg to a shuffle
    join: inventory is fact-sized at every real SF, but the static
    estimate of the pre-joined subquery can fall under the broadcast
    threshold — at sf1 that misestimated broadcast OOMed an 8 GB
    driver (found by a multi-SF timing run); a fact side must never
    be broadcast regardless of what the estimator says.""",
)
