"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship reconciliation on sf0.001;
``queries()`` exposes the engine's named query surface -- every ``q_*``
function of ``queries.py`` -- in the driver's attestation order;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for each (same
parquet tables, pre-registered as views).

The fixture-derivation rules shared by both sides are documented in
``retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark/plans/fixtures.py``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark import queries as Q
from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.plans.fixtures import (
    ensure_dml_fixture,
    ensure_evolving_fixture,
    ensure_versioned_fixture,
)
from tools.rotation_check import order

Query = Callable[[SparkSession, str], DataFrame]

#: Built at import so the DuckDB oracle can read the two-schema fixture
#: even if the driver runs the oracle side first (deterministic bytes,
#: idempotent, repo-local + gitignored).
_EVOLVING_DIR = ensure_evolving_fixture()
#: Same contract for the 3-version versioned-table fixture.
_VERSIONED_DIR = ensure_versioned_fixture()
#: And for the DML-triad (append/delete/update/merge) history fixture.
_DML_DIR = ensure_dml_fixture()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return Q.q_reconcile(spark, "/root/testdata/sf0.001")


def _defined() -> dict[str, Query]:
    """Every ``q_*`` function defined in ``queries.py`` (names it only
    imports do not count), in definition order, keyed without ``q_``."""
    return {
        name[2:]: fn
        for name, fn in vars(Q).items()
        if name.startswith("q_") and callable(fn)
        and getattr(fn, "__module__", None) == Q.__name__
    }


@functools.cache
def _attestation_order() -> tuple[tuple[str, Query], ...]:
    defined = _defined()
    names = order(list(defined), set(oracle_sql()))
    return tuple((name, defined[name]) for name in names)


def queries() -> dict[str, Query]:
    """Every ``q_*`` query, least-recently driver-attested first.

    The driver's CORRECTNESS artifact records only the first 50
    entries, so ordering is part of the contract. It is derived once
    per process from the ``CORRECTNESS_r*.json`` files on disk by
    ``tools/rotation_check.order``, whose ``check`` validates it:
    never-attested entries, then entries last seen red, then paired
    entries by their last green round, then rows-only entries with
    driver evidence. Entries past the window stay pinned value-level by
    tests/test_oracle_parity.py and bit-exactly by
    tools/strict_parity.py.
    """
    return dict(_attestation_order())


# --- DuckDB oracle SQL --------------------------------------------------
# The fixture CTEs mirror plans/fixtures.py rule-for-rule.

# Component oracles shared between their own entries and the composed
# ann_recall oracle (r13 verdict item #5): each is a standalone
# WITH...SELECT that ann_recall embeds as a subquery.
_SIM_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 4) AS score
FROM embeddings CROSS JOIN q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""

_ANN_TOPK_SQL = """
WITH ex AS (
  SELECT vec_id, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
proj AS (
  SELECT CAST(FLOOR(r / 256.0) AS BIGINT) AS t,
         CAST(FLOOR(r / 64.0) AS BIGINT) % 4 AS p,
         r % 64 + 1 AS dim,
         CAST(list_sum(list_transform(range(1, 9), i ->
             (strpos('0123456789abcdef',
                     substr(md5('rp:' || CAST(CAST(FLOOR(r / 256.0) AS BIGINT) AS VARCHAR)
                                || ':' || CAST(CAST(FLOOR(r / 64.0) AS BIGINT) % 4 AS VARCHAR)
                                || ':' || CAST(r % 64 + 1 AS VARCHAR)),
                            CAST(i AS INT), 1)) - 1)
             * power(16, 8 - i))) AS BIGINT) % 19 - 9 AS c
  FROM (SELECT unnest(range(0, 1024)) AS r)
),
sums AS (
  SELECT e.vec_id, pr.t, pr.p, SUM(pr.c * e.q) AS s
  FROM ex e JOIN proj pr ON pr.dim = e.dim
  GROUP BY 1, 2, 3
),
sigs AS (
  SELECT vec_id, t,
         SUM(CASE WHEN s >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS bucket
  FROM sums GROUP BY 1, 2
),
probes AS (SELECT t, bucket FROM sigs WHERE vec_id = 0),
cand AS (
  SELECT DISTINCT s.vec_id
  FROM sigs s JOIN probes pb ON s.t = pb.t AND s.bucket = pb.bucket
),
qd AS (SELECT dim, q AS d FROM ex WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         CAST(SUM(e.q * qd.d) AS BIGINT) AS dot_q,
         CAST(SUM(e.q * e.q) AS BIGINT) AS nq,
         CAST(SUM(qd.d * qd.d) AS BIGINT) AS nd
  FROM ex e JOIN cand c ON c.vec_id = e.vec_id
  JOIN qd ON qd.dim = e.dim
  GROUP BY 1
)
SELECT vec_id, dot_q,
       ROUND(CAST(dot_q AS DOUBLE) / SQRT(CAST(nq AS DOUBLE) * CAST(nd AS DOUBLE)), 6) AS score
FROM scored
ORDER BY CAST(dot_q AS DOUBLE) / SQRT(CAST(nq AS DOUBLE) * CAST(nd AS DOUBLE)) DESC, vec_id
LIMIT 10
"""

_IVF_TOPK_SQL = """
WITH ex AS MATERIALIZED (
  SELECT vec_id, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
cents AS (
  SELECT CAST(vec_id AS BIGINT) AS cell, dim, q AS c FROM ex WHERE vec_id < 16
),
d2 AS (
  SELECT e.vec_id, s.cell, SUM((e.q - s.c) * (e.q - s.c)) AS _d2
  FROM ex e JOIN cents s ON e.dim = s.dim
  GROUP BY 1, 2
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY _d2, cell) AS rn
    FROM d2
  ) WHERE rn = 1
),
qd AS (SELECT dim, q AS d FROM ex WHERE vec_id = 0),
probes AS (
  SELECT cell FROM (
    SELECT s.cell, SUM((v.d - s.c) * (v.d - s.c)) AS qd2
    FROM cents s JOIN qd v ON s.dim = v.dim
    GROUP BY 1
  ) ORDER BY qd2, cell LIMIT 4
),
cand AS (
  SELECT a.vec_id, a.cell FROM assigned a JOIN probes p ON a.cell = p.cell
),
scored AS (
  SELECT e.vec_id, c.cell,
         CAST(SUM((e.q - qd.d) * (e.q - qd.d)) AS BIGINT) AS d2
  FROM ex e JOIN cand c ON c.vec_id = e.vec_id
  JOIN qd ON qd.dim = e.dim
  GROUP BY 1, 2
)
SELECT vec_id, cell, d2 FROM scored ORDER BY d2, vec_id LIMIT 10
"""

_INT8_COSINE_TOPK_SQL = """
WITH ex AS (
  SELECT vec_id, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
sc AS (SELECT vec_id, MAX(ABS(v)) AS s FROM ex GROUP BY vec_id),
codes AS (
  SELECT e.vec_id, e.dim,
         CASE WHEN sc.s = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(ROUND(CAST(e.v AS DOUBLE) * 127.0
                              / CAST(sc.s AS DOUBLE)) AS BIGINT) END AS c
  FROM ex e JOIN sc ON sc.vec_id = e.vec_id
),
qv AS (SELECT dim, c AS d FROM codes WHERE vec_id = 0),
nd AS (SELECT SUM(d * d) AS nd FROM qv),
scored AS (
  SELECT cd.vec_id,
         CAST(SUM(cd.c * q.d) AS BIGINT) AS dot_q,
         CAST(SUM(cd.c * cd.c) AS BIGINT) AS norm_q
  FROM codes cd JOIN qv q ON q.dim = cd.dim
  GROUP BY cd.vec_id
)
SELECT vec_id, dot_q, norm_q,
       ROUND(CAST(dot_q AS DOUBLE)
             / SQRT(CAST(norm_q AS DOUBLE)
                    * CAST((SELECT nd FROM nd) AS DOUBLE)), 6) AS score
FROM scored
WHERE norm_q > 0  -- zero-vector guard, mirrored from the Spark plan
ORDER BY CAST(dot_q AS DOUBLE)
         / SQRT(CAST(norm_q AS DOUBLE)
                * CAST((SELECT nd FROM nd) AS DOUBLE)) DESC,
         vec_id
LIMIT 10
"""

#: recall@10 of the three pinned approximate rungs vs brute force --
#: the component oracles embedded verbatim as subqueries, so the
#: composed number is exactly as hash-checkable as its parts
_ANN_RECALL_SQL = f"""
WITH exact AS (SELECT vec_id FROM ({_SIM_TOPK_SQL})),
lsh AS (SELECT vec_id FROM ({_ANN_TOPK_SQL})),
ivf AS (SELECT vec_id FROM ({_IVF_TOPK_SQL})),
int8 AS (SELECT vec_id FROM ({_INT8_COSINE_TOPK_SQL})),
cand AS (
  SELECT 'lsh' AS method, vec_id FROM lsh
  UNION ALL SELECT 'ivf', vec_id FROM ivf
  UNION ALL SELECT 'int8', vec_id FROM int8
)
SELECT c.method,
       CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       CAST(10 AS BIGINT) AS k,
       ROUND(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0, 6) AS recall
FROM cand c LEFT JOIN exact e ON e.vec_id = c.vec_id
GROUP BY c.method
ORDER BY c.method
"""


_FIXTURE_CTES = """
WITH sales AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_quantity AS INT)    AS quantity,
         CAST(l_shipdate AS DATE)   AS sale_date
  FROM lineitem
),
params AS (SELECT MAX(sale_date) AS d FROM sales),
staged AS (
  SELECT s.sku, CAST(SUM(s.quantity) AS BIGINT) AS total_quantity_sold
  FROM sales s CROSS JOIN params p
  WHERE s.sale_date = p.d
  GROUP BY s.sku
),
opening AS (
  SELECT s.sku,
         CAST(MAX(pt.p_size) * 100 - SUM(s.quantity) AS INT) AS opening_stock
  FROM sales s
  JOIN part pt ON CAST(pt.p_partkey AS STRING) = s.sku
  CROSS JOIN params p
  WHERE s.sale_date <= p.d - 1 AND pt.p_partkey % 10 <> 3
  GROUP BY s.sku
),
closing AS (
  SELECT s.sku,
         CAST(MAX(pt.p_size) * 100 - SUM(s.quantity)
              - MAX(CASE WHEN pt.p_partkey % 7 = 0 THEN 1 ELSE 0 END) AS INT)
           AS actual_closing_stock
  FROM sales s
  JOIN part pt ON CAST(pt.p_partkey AS STRING) = s.sku
  CROSS JOIN params p
  WHERE s.sale_date <= p.d AND pt.p_partkey % 10 <> 3
  GROUP BY s.sku
),
dim_src AS (
  SELECT CAST(p_partkey AS STRING) AS sku, p_name AS product_name, p_type AS category
  FROM part
  UNION ALL
  SELECT CAST(p_partkey AS STRING), p_name, p_brand
  FROM part WHERE p_partkey % 5 = 0
),
dim AS (
  SELECT sku, product_name, category FROM (
    SELECT UPPER(TRIM(sku)) AS sku,
           TRIM(product_name) AS product_name,
           TRIM(category) AS category,
           ROW_NUMBER() OVER (
             PARTITION BY UPPER(TRIM(sku))
             ORDER BY TRIM(product_name), TRIM(category)
           ) AS rn
    FROM dim_src
  ) t WHERE rn = 1
),
inv AS (
  SELECT COALESCE(o.sku, c.sku) AS sku, o.opening_stock, c.actual_closing_stock
  FROM opening o FULL OUTER JOIN closing c ON o.sku = c.sku
),
reconciled AS (
  SELECT CAST(p.d AS DATE) AS date_key,
         i.sku,
         dm.product_name,
         CAST(COALESCE(i.opening_stock, 0) AS INT) AS opening_stock,
         CAST(COALESCE(st.total_quantity_sold, 0) AS BIGINT) AS quantity_sold,
         CAST(COALESCE(i.opening_stock, 0) - COALESCE(st.total_quantity_sold, 0) AS BIGINT)
           AS expected_closing_stock,
         CAST(COALESCE(i.actual_closing_stock, 0) AS INT) AS actual_closing_stock,
         CAST(COALESCE(i.actual_closing_stock, 0)
              - (COALESCE(i.opening_stock, 0) - COALESCE(st.total_quantity_sold, 0)) AS BIGINT)
           AS discrepancy_amount
  FROM inv i
  LEFT JOIN staged st ON i.sku = st.sku
  LEFT JOIN dim dm ON i.sku = dm.sku
  CROSS JOIN params p
)
"""



#: Shared by jaccard_pairs and its prefix-filtered twin -- the
#: optimization is contractually output-invisible.
_ORACLE_JACCARD_PAIRS = """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh)
SELECT doc_a, doc_b,
       ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) AS jaccard
FROM shared
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) >= 0.5
"""

def oracle_sql() -> dict[str, str]:
    return {
        "type_mix_by_tenure": """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS eday
  FROM events
),
anchor AS (
  SELECT user_id, MIN(eday) AS d0 FROM ev
  WHERE event_type = 'signup' GROUP BY 1
),
aged AS (
  SELECT CASE WHEN ev.eday - anchor.d0 <= 7 THEN '0_first_week'
              WHEN ev.eday - anchor.d0 <= 21 THEN '1_weeks_2_3'
              ELSE '2_later' END AS tenure_band,
         ev.event_type
  FROM ev JOIN anchor ON ev.user_id = anchor.user_id
  WHERE ev.eday >= anchor.d0
),
per AS (
  SELECT tenure_band, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM aged GROUP BY 1, 2
),
tot AS (
  SELECT tenure_band, CAST(SUM(n) AS BIGINT) AS bt FROM per GROUP BY 1
)
SELECT per.tenure_band, per.event_type, per.n,
       ROUND(CAST(per.n AS DOUBLE) / tot.bt, 6) AS band_share
FROM per JOIN tot ON per.tenure_band = tot.tenure_band
ORDER BY per.tenure_band, per.event_type
""",
        "brand_customer_concentration": """
WITH bc AS (
  SELECT p.p_brand AS brand, o.o_custkey,
         CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT brand, c,
         ROW_NUMBER() OVER (PARTITION BY brand
                            ORDER BY c DESC, o_custkey) AS rk
  FROM bc
)
SELECT brand,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(CASE WHEN rk <= 3 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE), 6) AS top3_share
FROM ranked
GROUP BY 1
ORDER BY 1
""",
        "weekpart_value_gap": """
WITH ev AS (
  SELECT event_type,
         (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS dow,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events
),
per AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN dow <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS wn,
         CAST(SUM(CASE WHEN dow <= 4 THEN cents ELSE 0 END) AS BIGINT) AS wc,
         CAST(SUM(CASE WHEN dow >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS en,
         CAST(SUM(CASE WHEN dow >= 5 THEN cents ELSE 0 END) AS BIGINT) AS ec
  FROM ev GROUP BY 1
)
SELECT event_type,
       ROUND(CASE WHEN wn > 0 THEN CAST(wc AS DOUBLE) / (wn * 100.0) END, 6)
         AS weekday_mean_value,
       ROUND(CASE WHEN en > 0 THEN CAST(ec AS DOUBLE) / (en * 100.0) END, 6)
         AS weekend_mean_value,
       ROUND(CASE WHEN en > 0 THEN CAST(ec AS DOUBLE) / (en * 100.0) END
             - CASE WHEN wn > 0 THEN CAST(wc AS DOUBLE) / (wn * 100.0) END,
             6) AS weekend_gap
FROM per
ORDER BY event_type
""",
        "conversion_by_session_depth": """
WITH ev AS (
  SELECT user_id, event_type, event_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
flagged AS (
  SELECT user_id, event_type, event_id, sec,
         CASE WHEN LAG(sec) OVER w IS NULL THEN 1
              WHEN sec - LAG(sec) OVER w > 1800 THEN 1
              ELSE 0 END AS new_s
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
),
sess AS (
  SELECT user_id, event_type,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged
),
per AS (
  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS depth,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM sess GROUP BY 1, 2
)
SELECT CASE WHEN depth = 1 THEN '0_single'
            WHEN depth <= 3 THEN '1_short'
            WHEN depth <= 7 THEN '2_medium'
            ELSE '3_long' END AS depth_band,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6)
         AS conversion_rate
FROM per
GROUP BY 1
ORDER BY 1
""",
        "nation_market_structure": """
WITH c AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM customer GROUP BY 1
),
s AS (
  SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM supplier GROUP BY 1
)
SELECT n.n_name AS nation,
       COALESCE(c.n_customers, 0) AS n_customers,
       COALESCE(s.n_suppliers, 0) AS n_suppliers,
       ROUND(CASE WHEN COALESCE(s.n_suppliers, 0) > 0
                  THEN CAST(c.n_customers AS DOUBLE) / s.n_suppliers
             END, 6) AS customers_per_supplier
FROM nation n
LEFT JOIN c ON n.n_nationkey = c.c_nationkey
LEFT JOIN s ON n.n_nationkey = s.s_nationkey
ORDER BY 1
""",
        "signup_dow_retention": """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS eday
  FROM events
),
anchor AS (
  SELECT user_id, MIN(eday) AS d0 FROM ev
  WHERE event_type = 'signup' GROUP BY 1
),
act AS (
  SELECT anchor.user_id, anchor.d0,
         MAX(CASE WHEN ev.eday >= anchor.d0 + 7
                   AND ev.eday <= anchor.d0 + 13 THEN 1 ELSE 0 END) AS week2
  FROM anchor JOIN ev ON anchor.user_id = ev.user_id
  GROUP BY 1, 2
)
SELECT CAST((d0 + 4) % 7 AS INT) AS signup_dow,
       CAST(COUNT(*) AS BIGINT) AS n_signups,
       CAST(SUM(week2) AS BIGINT) AS n_week2_active,
       ROUND(CAST(SUM(week2) AS DOUBLE) / COUNT(*), 6) AS week2_retention
FROM act
GROUP BY 1
ORDER BY 1
""",
        "vintage_price_profile": """
WITH first AS (
  SELECT l_partkey, CAST(MIN(year(l_shipdate)) AS BIGINT) AS vintage
  FROM lineitem GROUP BY 1
),
rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM lineitem GROUP BY 1
)
SELECT first.vintage,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(CAST(SUM(CAST(ROUND(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100)
                           AS BIGINT)) AS DOUBLE) / (COUNT(*) * 100.0), 6)
         AS mean_list_price,
       ROUND(CAST(SUM(rev.c) AS DOUBLE) / (COUNT(*) * 100.0), 6)
         AS mean_revenue_per_part
FROM first
JOIN part p ON first.l_partkey = p.p_partkey
JOIN rev ON first.l_partkey = rev.l_partkey
GROUP BY 1
ORDER BY 1
""",
        "supplier_activity_regularity": """
WITH qa AS (
  SELECT l_suppkey,
         CAST(year(l_shipdate) AS BIGINT) * 4
           + CAST(quarter(l_shipdate) AS BIGINT) - 1 AS qi,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
),
per AS (
  SELECT l_suppkey, CAST(MAX(n) AS BIGINT) AS peak,
         CAST(SUM(n) AS BIGINT) AS total
  FROM qa GROUP BY 1
)
SELECT CASE WHEN peak * 20 <= total THEN '0_le5pct'
            WHEN peak * 200 <= total * 11 THEN '1_le5_5pct'
            WHEN peak * 100 <= total * 6 THEN '2_le6pct'
            ELSE '3_gt6pct' END AS concentration_band,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(AVG(total), 6) AS mean_lines,
       ROUND(CAST(SUM(peak) AS DOUBLE) / CAST(SUM(total) AS DOUBLE), 6)
         AS pooled_peak_share
FROM per
GROUP BY 1
ORDER BY 1
""",
        "brand_weekend_mix": """
WITH li AS (
  SELECT l_partkey,
         (CAST(FLOOR(epoch(CAST(l_shipdate AS TIMESTAMP)) / 86400) AS BIGINT)
          + 4) % 7 AS dow,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem
),
per AS (
  SELECT p.p_brand AS brand,
         CAST(SUM(li.cents) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN li.dow >= 5 THEN li.cents ELSE 0 END) AS BIGINT)
           AS wc
  FROM li JOIN part p ON li.l_partkey = p.p_partkey
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS tc, CAST(SUM(wc) AS BIGINT) AS twc
  FROM per
)
SELECT per.brand,
       ROUND(CAST(per.wc AS DOUBLE) / CAST(per.c AS DOUBLE), 6)
         AS weekend_share,
       ROUND(CAST(per.wc AS DOUBLE) / CAST(per.c AS DOUBLE)
             - CAST(tot.twc AS DOUBLE) / CAST(tot.tc AS DOUBLE), 6)
         AS gap_vs_global
FROM per CROSS JOIN tot
ORDER BY per.brand
""",
        "cadence_by_ordinal": """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
           AS d
  FROM orders
),
g AS (
  SELECT CAST(LEAST(ROW_NUMBER() OVER w, 6) AS INT) AS ordinal,
         (LEAD(d) OVER w) - d AS next_gap
  FROM o
  WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)
)
SELECT ordinal,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(AVG(next_gap), 6) AS mean_gap_days,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY next_gap), 6)
         AS median_gap_days
FROM g
WHERE next_gap IS NOT NULL
GROUP BY 1
ORDER BY 1
""",
        "customer_return_propensity": """
WITH per AS (
  SELECT o.o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS r,
         CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
)
SELECT CASE WHEN r = 0 THEN '0_never'
            WHEN r * 5 <= n THEN '1_le20pct'
            WHEN r * 5 <= n * 2 THEN '2_le40pct'
            ELSE '3_gt40pct' END AS return_band,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(r) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
         AS pooled_return_rate,
       CAST(SUM(c) AS DOUBLE) / 100.0 AS revenue
FROM per
GROUP BY 1
ORDER BY 1
""",
        "weekly_value_per_event": """
WITH ev AS (
  SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) / 7.0)
              AS BIGINT) AS week,
         event_type,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events
)
SELECT week,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(cents) AS DOUBLE) / (COUNT(*) * 100.0), 6)
         AS value_per_event,
       ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS purchase_share
FROM ev
GROUP BY 1
ORDER BY 1
""",
        "nation_discount_gap": """
WITH per AS (
  SELECT n.n_name AS nation,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(ROUND(CAST(l.l_discount AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS s
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_lines) AS BIGINT) AS tn, CAST(SUM(s) AS BIGINT) AS ts
  FROM per
)
SELECT per.nation, per.n_lines,
       ROUND(CAST(per.s AS DOUBLE) / CAST(per.n_lines AS DOUBLE), 6)
         AS mean_discount_pct,
       ROUND(CAST(per.s AS DOUBLE) / CAST(per.n_lines AS DOUBLE)
             - CAST(tot.ts AS DOUBLE) / CAST(tot.tn AS DOUBLE), 6)
         AS gap_vs_global
FROM per CROSS JOIN tot
ORDER BY per.nation
""",
        "cohort_retention_triangle": """
WITH yc AS (
  SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS year
  FROM orders
),
first AS (SELECT o_custkey, MIN(year) AS cohort FROM yc GROUP BY 1),
per AS (
  SELECT first.cohort, yc.year - first.cohort AS year_offset,
         CAST(COUNT(DISTINCT yc.o_custkey) AS BIGINT) AS n_active
  FROM yc JOIN first ON yc.o_custkey = first.o_custkey
  GROUP BY 1, 2
),
base AS (
  SELECT cohort, n_active AS cohort_size FROM per WHERE year_offset = 0
)
SELECT per.cohort, per.year_offset, per.n_active,
       ROUND(CAST(per.n_active AS DOUBLE) / base.cohort_size, 6)
         AS retention
FROM per JOIN base ON per.cohort = base.cohort
ORDER BY per.cohort, per.year_offset
""",
        "click_to_purchase_latency": """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS eday
  FROM events
),
c0 AS (
  SELECT user_id, MIN(eday) AS c FROM ev
  WHERE event_type = 'click' GROUP BY 1
),
lat AS (
  SELECT c0.user_id, MIN(p.eday) - MAX(c0.c) AS lat
  FROM c0 JOIN (SELECT user_id, eday FROM ev
                WHERE event_type = 'purchase') p
    ON c0.user_id = p.user_id
  WHERE p.eday >= c0.c
  GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(AVG(lat), 6) AS mean_days,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY lat), 6)
         AS median_days,
       ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY lat), 6)
         AS p90_days
FROM lat
""",
        "first_day_activity_mix": """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS eday
  FROM events
),
first AS (SELECT user_id, MIN(eday) AS d0 FROM ev GROUP BY 1),
day0 AS (
  SELECT ev.user_id, ev.event_type
  FROM ev JOIN first ON ev.user_id = first.user_id
  WHERE ev.eday = first.d0
),
per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM day0 GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t FROM per)
SELECT per.event_type, per.n_events, per.n_users,
       ROUND(CAST(per.n_events AS DOUBLE) / tot.t, 6) AS day0_share
FROM per CROSS JOIN tot
ORDER BY per.event_type
""",
        "supplier_discount_profile": """
WITH per AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(CAST(l_discount AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS s
  FROM lineitem GROUP BY 1
)
SELECT CASE WHEN s * 25 <= n * 100 THEN '0_le4pct'
            WHEN s * 20 <= n * 100 THEN '1_le5pct'
            WHEN s * 100 <= n * 600 THEN '2_le6pct'
            ELSE '3_gt6pct' END AS discount_band,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(n) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
         AS pooled_mean_discount_pct
FROM per
GROUP BY 1
ORDER BY 1
""",
        "returns_trend_by_year": """
WITH li AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS year,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem
)
SELECT year,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(ret) AS DOUBLE) / COUNT(*), 6) AS return_rate,
       ROUND(CAST(SUM(CASE WHEN ret = 1 THEN cents ELSE 0 END) AS DOUBLE)
             / CAST(SUM(cents) AS DOUBLE), 6) AS returned_value_share
FROM li
GROUP BY 1
ORDER BY 1
""",
        "basket_density_bands": """
WITH per AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM lineitem GROUP BY 1
)
SELECT CASE WHEN c <= n_lines * 2000000 THEN '0_le20k_per_line'
            WHEN c <= n_lines * 4000000 THEN '1_le40k_per_line'
            WHEN c <= n_lines * 6000000 THEN '2_le60k_per_line'
            ELSE '3_gt60k_per_line' END AS density_band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(AVG(n_lines), 6) AS mean_lines,
       ROUND(CAST(SUM(c) AS DOUBLE) / (CAST(SUM(n_lines) AS DOUBLE) * 100.0),
             6) AS pooled_value_per_line
FROM per
GROUP BY 1
ORDER BY 1
""",
        "event_calendar_gaps": """
WITH days AS (
  SELECT DISTINCT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS eday
  FROM events
),
gaps AS (
  SELECT eday, eday - LAG(eday) OVER (ORDER BY eday) AS gap FROM days
)
SELECT CAST(COUNT(*) AS BIGINT) AS active_days,
       CAST(MAX(eday) - MIN(eday) + 1 AS BIGINT) AS span_days,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / CAST(MAX(eday) - MIN(eday) + 1 AS DOUBLE), 6) AS coverage,
       CAST(MAX(gap) AS BIGINT) AS max_gap_days
FROM gaps
""",
        "nation_acquisition_trend": """
WITH first AS (
  SELECT o_custkey, CAST(MIN(year(o_orderdate)) AS BIGINT) AS first_year
  FROM orders GROUP BY 1
),
per AS (
  SELECT n.n_name AS nation, first.first_year,
         CAST(COUNT(*) AS BIGINT) AS new_customers
  FROM first
  JOIN customer c ON first.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
yr AS (
  SELECT first_year, CAST(SUM(new_customers) AS BIGINT) AS yt
  FROM per GROUP BY 1
)
SELECT per.nation, per.first_year, per.new_customers,
       ROUND(CAST(per.new_customers AS DOUBLE) / yr.yt, 6) AS year_share
FROM per JOIN yr ON per.first_year = yr.first_year
ORDER BY per.nation, per.first_year
""",
        "hourly_conversion_profile": """
WITH ev AS (
  SELECT CAST(hour(ts) AS INT) AS hour, event_type FROM events
)
SELECT hour,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clicks,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases,
       ROUND(CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       > 0
                  THEN CAST(SUM(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(SUM(CASE WHEN event_type = 'click'
                                       THEN 1 ELSE 0 END) AS DOUBLE)
             END, 6) AS purchases_per_click
FROM ev
GROUP BY 1
ORDER BY 1
""",
        "priority_mix_trend": """
WITH per AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
         o_orderpriority AS priority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
),
yr AS (
  SELECT year, CAST(SUM(n_orders) AS BIGINT) AS yo,
         CAST(SUM(c) AS BIGINT) AS yc
  FROM per GROUP BY 1
)
SELECT per.year, per.priority, per.n_orders,
       ROUND(CAST(per.n_orders AS DOUBLE) / yr.yo, 6) AS order_share,
       ROUND(CAST(per.c AS DOUBLE) / CAST(yr.yc AS DOUBLE), 6)
         AS revenue_share
FROM per JOIN yr ON per.year = yr.year
ORDER BY per.year, per.priority
""",
        "brand_part_introduction": """
WITH first AS (
  SELECT l_partkey, CAST(MIN(year(l_shipdate)) AS BIGINT) AS first_year
  FROM lineitem GROUP BY 1
),
per AS (
  SELECT p.p_brand AS brand, first.first_year,
         CAST(COUNT(*) AS BIGINT) AS new_parts
  FROM first JOIN part p ON first.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
tot AS (
  SELECT brand, CAST(SUM(new_parts) AS BIGINT) AS bt FROM per GROUP BY 1
)
SELECT per.brand, per.first_year, per.new_parts,
       ROUND(CAST(per.new_parts AS DOUBLE) / tot.bt, 6) AS brand_share
FROM per JOIN tot ON per.brand = tot.brand
ORDER BY per.brand, per.first_year
""",
        "discount_by_line_position": """
WITH li AS (
  SELECT CAST(l_linenumber AS INT) AS position,
         CAST(ROUND(CAST(l_discount AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS disc_pct
  FROM lineitem
)
SELECT position,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(disc_pct) AS DOUBLE) / COUNT(*), 6)
         AS mean_discount_pct,
       ROUND(CAST(SUM(CASE WHEN disc_pct >= 8 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS deep_discount_share
FROM li
GROUP BY 1
ORDER BY 1
""",
        "big_order_brand_mix": """
WITH o AS (
  SELECT o_orderkey,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS oc
  FROM orders
),
edge AS (
  SELECT percentile_cont(0.9) WITHIN GROUP (ORDER BY oc) AS p90 FROM o
),
j AS (
  SELECT p.p_brand AS brand, o.oc > edge.p90 AS big,
         CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
              AS BIGINT) AS cents
  FROM lineitem l
  JOIN o ON l.l_orderkey = o.o_orderkey
  CROSS JOIN edge
  JOIN part p ON l.l_partkey = p.p_partkey
),
per AS (
  SELECT brand,
         CAST(SUM(CASE WHEN big THEN cents ELSE 0 END) AS BIGINT) AS bc,
         CAST(SUM(CASE WHEN NOT big THEN cents ELSE 0 END) AS BIGINT) AS sc
  FROM j GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(bc) AS BIGINT) AS tb, CAST(SUM(sc) AS BIGINT) AS ts
  FROM per
)
SELECT per.brand,
       ROUND(CAST(per.bc AS DOUBLE) / CAST(tot.tb AS DOUBLE), 6)
         AS big_order_share,
       ROUND(CAST(per.sc AS DOUBLE) / CAST(tot.ts AS DOUBLE), 6)
         AS small_order_share,
       ROUND(CAST(per.bc AS DOUBLE) / CAST(tot.tb AS DOUBLE)
             - CAST(per.sc AS DOUBLE) / CAST(tot.ts AS DOUBLE), 6)
         AS share_point_diff
FROM per CROSS JOIN tot
ORDER BY per.brand
""",
        "returns_by_line_position": """
SELECT CAST(l_linenumber AS INT) AS position,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS return_rate
FROM lineitem
GROUP BY 1
ORDER BY 1
""",
        "weekpart_overlap": """
WITH ev AS (
  SELECT user_id,
         (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS dow
  FROM events
),
per AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN dow <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS wk,
         CAST(SUM(CASE WHEN dow >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS we
  FROM ev GROUP BY 1
)
SELECT CASE WHEN we * 5 < wk + we THEN '0_lt20pct'
            WHEN we * 10 < (wk + we) * 3 THEN '1_lt30pct'
            WHEN we * 5 < (wk + we) * 2 THEN '2_lt40pct'
            ELSE '3_ge40pct' END AS weekpart,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(wk + we) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(we) AS DOUBLE) / CAST(SUM(wk + we) AS DOUBLE), 6)
         AS weekend_event_share
FROM per
GROUP BY 1
ORDER BY 1
""",
        "order_supplier_spread": """
WITH per AS (
  SELECT l.l_orderkey,
         CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
  FROM lineitem l GROUP BY 1
)
SELECT per.n_suppliers,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(ROUND(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                           AS BIGINT)) AS DOUBLE) / (COUNT(*) * 100.0), 6)
         AS mean_order_value
FROM per JOIN orders o ON per.l_orderkey = o.o_orderkey
GROUP BY 1
ORDER BY 1
""",
        "brand_price_mix_effect": """
WITH li AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem WHERE CAST(l_quantity AS BIGINT) > 0
),
per AS (
  SELECT p.p_brand AS brand,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(li.cents) AS BIGINT) AS c,
         CAST(SUM(li.qty) AS BIGINT) AS q,
         CAST(SUM(CAST(FLOOR(li.cents * 1000000.0 / li.qty) AS BIGINT))
              AS BIGINT) AS unit_ppm
  FROM li JOIN part p ON li.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT brand, n_lines,
       ROUND(CAST(c AS DOUBLE) / CAST(q AS DOUBLE) / 100.0, 6)
         AS weighted_unit_price,
       ROUND(CAST(unit_ppm AS DOUBLE)
             / (CAST(n_lines AS DOUBLE) * 100000000.0), 6)
         AS unweighted_unit_price
FROM per
ORDER BY brand
""",
        "monthly_reactivation": """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
           AS d
  FROM orders
),
flagged AS (
  SELECT m, o_custkey,
         d - LAG(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
           AS gap
  FROM o
),
per AS (
  SELECT m, o_custkey,
         MAX(CASE WHEN gap >= 60 THEN 1 ELSE 0 END) AS reactivated
  FROM flagged GROUP BY 1, 2
)
SELECT m,
       CAST(COUNT(*) AS BIGINT) AS active_customers,
       CAST(SUM(reactivated) AS BIGINT) AS reactivated_customers,
       ROUND(CAST(SUM(reactivated) AS DOUBLE) / COUNT(*), 6)
         AS reactivation_share
FROM per
GROUP BY 1
ORDER BY 1
""",
        "value_by_user_age": """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS eday,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events
),
anchor AS (
  SELECT user_id, MIN(eday) AS d0 FROM ev
  WHERE event_type = 'signup' GROUP BY 1
),
p AS (
  SELECT ev.user_id, ev.eday - anchor.d0 AS age, ev.cents
  FROM ev JOIN anchor ON ev.user_id = anchor.user_id
  WHERE ev.event_type = 'purchase' AND ev.eday >= anchor.d0
)
SELECT CASE WHEN age <= 7 THEN '0_first_week'
            WHEN age <= 14 THEN '1_second_week'
            WHEN age <= 21 THEN '2_third_week'
            ELSE '3_later' END AS age_band,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(cents) AS DOUBLE) / (COUNT(*) * 100.0), 6)
         AS mean_purchase_value
FROM p
GROUP BY 1
ORDER BY 1
""",
        "month_yoy_heat": """
WITH per AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
         CAST(month(o_orderdate) AS INT) AS month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
)
SELECT year, month, n_orders,
       CAST(c AS DOUBLE) / 100.0 AS revenue,
       ROUND(CASE WHEN LAG(c) OVER (PARTITION BY month ORDER BY year) > 0
                  THEN CAST(c AS DOUBLE)
                       / CAST(LAG(c) OVER (PARTITION BY month
                                           ORDER BY year) AS DOUBLE)
             END, 6) AS yoy_ratio
FROM per
ORDER BY year, month
""",
        "order_ordinal_curve": """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
           AS d,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
ranked AS (
  SELECT cents,
         CAST(LEAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                       ORDER BY d, o_orderkey), 8) AS INT)
           AS ordinal
  FROM o
)
SELECT ordinal,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue,
       ROUND(CAST(SUM(cents) AS DOUBLE) / (COUNT(*) * 100.0), 6)
         AS mean_order_value
FROM ranked
GROUP BY 1
ORDER BY 1
""",
        "session_conversion_rate": """
WITH ev AS (
  SELECT user_id, event_type, event_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
flagged AS (
  SELECT user_id, event_type, event_id, sec,
         CASE WHEN LAG(sec) OVER w IS NULL THEN 1
              WHEN sec - LAG(sec) OVER w > 1800 THEN 1
              ELSE 0 END AS new_s
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
),
sess AS (
  SELECT user_id, event_type, event_id, sec,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged
),
entry AS (
  SELECT user_id, sid, event_type AS entry_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, sid
                            ORDER BY sec, event_id) AS rn
  FROM sess
),
per AS (
  SELECT user_id, sid,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM sess GROUP BY 1, 2
)
SELECT entry.entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(per.converted) AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(per.converted) AS DOUBLE) / COUNT(*), 6)
         AS conversion_rate
FROM per
JOIN entry ON per.user_id = entry.user_id AND per.sid = entry.sid
WHERE entry.rn = 1
GROUP BY 1
ORDER BY 1
""",
        "daily_trending_types": """
WITH counts AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT day, event_type, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY day
                                 ORDER BY n DESC, event_type) AS INT) AS rank
  FROM counts
)
SELECT day, event_type, n, rank
FROM ranked
WHERE rank <= 3
ORDER BY day, rank
""",
        "three_step_funnel": """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS eday
  FROM events
),
s1 AS (
  SELECT user_id, MIN(eday) AS t1 FROM ev
  WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT s1.user_id, MIN(c.eday) AS t2
  FROM s1 JOIN (SELECT user_id, eday FROM ev WHERE event_type = 'click') c
    ON s1.user_id = c.user_id
  WHERE c.eday >= s1.t1 AND c.eday <= s1.t1 + 7
  GROUP BY 1
),
s3 AS (
  SELECT s2.user_id, MIN(p.eday) AS t3
  FROM s2 JOIN (SELECT user_id, eday FROM ev WHERE event_type = 'purchase') p
    ON s2.user_id = p.user_id
  WHERE p.eday >= s2.t2 AND p.eday <= s2.t2 + 7
  GROUP BY 1
)
SELECT CAST(1 AS INT) AS stage, CAST('signup' AS STRING) AS step,
       CAST(COUNT(*) AS BIGINT) AS n FROM s1
UNION ALL
SELECT CAST(2 AS INT), CAST('click_7d' AS STRING),
       CAST(COUNT(*) AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS INT), CAST('purchase_7d' AS STRING),
       CAST(COUNT(*) AS BIGINT) FROM s3
ORDER BY stage
""",
        "session_duration_by_entry": """
WITH ev AS (
  SELECT user_id, event_type, event_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
flagged AS (
  SELECT user_id, event_type, event_id, sec,
         CASE WHEN LAG(sec) OVER w IS NULL THEN 1
              WHEN sec - LAG(sec) OVER w > 1800 THEN 1
              ELSE 0 END AS new_s
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
),
sess AS (
  SELECT user_id, event_type, event_id, sec,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged
),
entry AS (
  SELECT user_id, sid, event_type AS entry_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, sid
                            ORDER BY sec, event_id) AS rn
  FROM sess
),
per AS (
  SELECT sess.user_id, sess.sid,
         MAX(sess.sec) - MIN(sess.sec) AS dur,
         CAST(COUNT(*) AS BIGINT) AS depth
  FROM sess GROUP BY 1, 2
)
SELECT entry.entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(AVG(per.dur), 6) AS mean_duration_sec,
       ROUND(AVG(per.depth), 6) AS mean_depth
FROM per
JOIN entry ON per.user_id = entry.user_id AND per.sid = entry.sid
WHERE entry.rn = 1
GROUP BY 1
ORDER BY 1
""",
        "partname_brand_collisions": """
WITH multi AS (
  SELECT p_name,
         CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS nk,
         CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands
  FROM part GROUP BY 1
  HAVING COUNT(DISTINCT p_brand) >= 2
),
rev AS (
  SELECT p.p_name,
         CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM part p
  JOIN multi ON p.p_name = multi.p_name
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  GROUP BY 1
)
SELECT multi.n_brands,
       CAST(COUNT(*) AS BIGINT) AS n_names,
       CAST(SUM(multi.nk) AS BIGINT) AS n_parts,
       CAST(SUM(COALESCE(rev.c, 0)) AS DOUBLE) / 100.0 AS affected_revenue
FROM multi LEFT JOIN rev ON multi.p_name = rev.p_name
GROUP BY 1
ORDER BY 1
""",
        "event_value_concentration": """
WITH ev AS (
  SELECT event_type, event_id,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cents DESC, event_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_t
  FROM ev
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value,
       ROUND(CAST(SUM(CASE WHEN rk * 10 <= n_t THEN cents ELSE 0 END)
                  AS DOUBLE) / CAST(SUM(cents) AS DOUBLE), 6)
         AS top_decile_value_share
FROM ranked
GROUP BY 1
ORDER BY 1
""",
        "value_roundness_screen": """
WITH ev AS (
  SELECT event_type,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS whole_dollar_share,
       ROUND(CAST(SUM(CASE WHEN cents % 100 = 99 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS ninety_nine_share
FROM ev
GROUP BY 1
ORDER BY 1
""",
        "signup_conversion_by_week": """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS eday
  FROM events
),
signup AS (
  SELECT user_id, MIN(eday) AS d0 FROM ev
  WHERE event_type = 'signup' GROUP BY 1
),
conv AS (
  SELECT signup.user_id, signup.d0,
         MAX(CASE WHEN p.eday >= signup.d0 AND p.eday <= signup.d0 + 7
                  THEN 1 ELSE 0 END) AS converted
  FROM signup
  LEFT JOIN (SELECT user_id, eday FROM ev WHERE event_type = 'purchase') p
    ON signup.user_id = p.user_id
  GROUP BY 1, 2
)
SELECT CAST(FLOOR(d0 / 7.0) AS BIGINT) AS signup_week,
       CAST(COUNT(*) AS BIGINT) AS n_signups,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6)
         AS conversion_rate
FROM conv
GROUP BY 1
ORDER BY 1
""",
        "segment_qoq_growth": """
WITH per AS (
  SELECT c.c_mktsegment AS segment,
         CAST(date_trunc('quarter', o.o_orderdate) AS DATE) AS quarter,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT segment, quarter, n_orders,
       CAST(c AS DOUBLE) / 100.0 AS revenue,
       ROUND(CASE WHEN LAG(c) OVER (PARTITION BY segment ORDER BY quarter) > 0
                  THEN CAST(c AS DOUBLE)
                       / CAST(LAG(c) OVER (PARTITION BY segment
                                           ORDER BY quarter) AS DOUBLE)
             END, 6) AS qoq_ratio
FROM per
ORDER BY segment, quarter
""",
        "brand_volume_value_mix": """
WITH per AS (
  SELECT p.p_brand AS brand,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(q) AS BIGINT) AS tq, CAST(SUM(c) AS BIGINT) AS tc FROM per
)
SELECT per.brand,
       ROUND(CAST(per.q AS DOUBLE) / CAST(tot.tq AS DOUBLE), 6)
         AS volume_share,
       ROUND(CAST(per.c AS DOUBLE) / CAST(tot.tc AS DOUBLE), 6)
         AS value_share,
       ROUND(CAST(per.c * tot.tq AS DOUBLE)
             / CAST(per.q * tot.tc AS DOUBLE), 6) AS premium_index
FROM per CROSS JOIN tot
ORDER BY per.brand
""",
        "customer_priority_breadth": """
WITH per AS (
  SELECT o_custkey,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS breadth,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1
)
SELECT breadth,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(AVG(n_orders), 6) AS mean_orders,
       CAST(SUM(c) AS DOUBLE) / 100.0 AS revenue
FROM per
GROUP BY 1
ORDER BY 1
""",
        "brand_copurchase_pairs": """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_together
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
  GROUP BY 1, 2
),
per AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_brand FROM ob GROUP BY 1),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders)
SELECT pairs.brand_a, pairs.brand_b, pairs.n_together,
       ROUND(CAST(pairs.n_together * t.n_orders AS DOUBLE)
             / CAST(na.n_brand * nb.n_brand AS DOUBLE), 6) AS lift
FROM pairs
JOIN per na ON pairs.brand_a = na.brand
JOIN per nb ON pairs.brand_b = nb.brand
CROSS JOIN t
ORDER BY lift DESC, pairs.brand_a, pairs.brand_b
LIMIT 20
""",
        "label_text_profile": """
WITH d AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS nc,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS toks
  FROM documents
)
SELECT e.label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(d.nc), 6) AS mean_chars,
       ROUND(AVG(d.toks), 6) AS mean_tokens,
       CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs
FROM d JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY 1
ORDER BY 1
""",
        "lang_label_lift": """
WITH j AS (
  SELECT d.lang, e.label
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
ll AS (SELECT lang, label, CAST(COUNT(*) AS BIGINT) AS n_ll FROM j GROUP BY 1, 2),
l AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM j GROUP BY 1),
b AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_b FROM j GROUP BY 1),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM j)
SELECT ll.lang, ll.label, ll.n_ll,
       ROUND(CAST(ll.n_ll * t.n_total AS DOUBLE)
             / CAST(l.n_l * b.n_b AS DOUBLE), 6) AS lift
FROM ll
JOIN l ON ll.lang = l.lang
JOIN b ON ll.label = b.label
CROSS JOIN t
ORDER BY ll.lang, ll.label
""",
        "open_order_aging": """
WITH o AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS status,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
           AS d,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
h AS (SELECT MAX(d) AS horizon FROM o)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_open,
       ROUND(AVG(h.horizon - o.d), 6) AS mean_age_days,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS open_value
FROM o CROSS JOIN h
WHERE o.status = 'O'
GROUP BY 1
ORDER BY 1
""",
        "segment_spend_intensity": """
WITH per AS (
  SELECT o_custkey,
         CAST(COUNT(DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE))
              AS BIGINT) AS months,
         CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1
)
SELECT cu.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(per.months) AS BIGINT) AS customer_months,
       ROUND(CAST(SUM(per.c) AS DOUBLE)
             / (CAST(SUM(per.months) AS DOUBLE) * 100.0), 6)
         AS revenue_per_active_month
FROM per JOIN customer cu ON per.o_custkey = cu.c_custkey
GROUP BY 1
ORDER BY 1
""",
        "brand_order_penetration": """
WITH ob AS (
  SELECT l.l_orderkey, p.p_brand AS brand,
         CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
per AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_orders,
         ROUND(AVG(n_lines), 6) AS mean_lines_when_present
  FROM ob GROUP BY 1
),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders_total FROM orders)
SELECT per.brand, per.n_orders,
       ROUND(CAST(per.n_orders AS DOUBLE) / t.n_orders_total, 6)
         AS penetration,
       per.mean_lines_when_present
FROM per CROSS JOIN t
ORDER BY per.brand
""",
        "customer_concentration_trend": """
WITH per AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS year, o_custkey,
         CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
),
ranked AS (
  SELECT year, c,
         ROW_NUMBER() OVER (PARTITION BY year
                            ORDER BY c DESC, o_custkey) AS rk
  FROM per
)
SELECT year,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(c) AS DOUBLE) / 100.0 AS total_revenue,
       ROUND(CAST(SUM(CASE WHEN rk = 1 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE), 6) AS top1_share,
       ROUND(CAST(SUM(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE), 6) AS top10_share
FROM ranked
GROUP BY 1
ORDER BY 1
""",
        "day_of_month_profile": """
WITH per AS (
  SELECT CAST(EXTRACT(DAY FROM CAST(o_orderdate AS DATE)) AS INT) AS dom,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS grand_c FROM per)
SELECT per.dom, per.n_orders,
       CAST(per.c AS DOUBLE) / 100.0 AS revenue,
       ROUND(CAST(per.c AS DOUBLE) / CAST(tot.grand_c AS DOUBLE), 6)
         AS revenue_share
FROM per CROSS JOIN tot
ORDER BY per.dom
""",
        "label_top_dims": """
WITH ex AS (
  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
pd AS (
  SELECT label, dim, CAST(SUM(q) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ex GROUP BY 1, 2
),
ranked AS (
  SELECT label, dim, s, n,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY ABS(s) DESC, dim) AS rk
  FROM pd
)
SELECT label, CAST(rk AS INT) AS rank, dim,
       ROUND(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0), 6)
         AS mean_value
FROM ranked
WHERE rk <= 3
ORDER BY label, rank
""",
        "sku_repurchase_cycle": """
WITH days AS (
  SELECT DISTINCT o.o_custkey, l.l_partkey,
         CAST(FLOOR(epoch(CAST(o.o_orderdate AS TIMESTAMP)) / 86400)
              AS BIGINT) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
gaps AS (
  SELECT l_partkey,
         d - LAG(d) OVER (PARTITION BY o_custkey, l_partkey ORDER BY d)
           AS gap
  FROM days
)
SELECT p.p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_cycles,
       ROUND(CAST(SUM(gap) AS DOUBLE) / COUNT(*), 6) AS mean_days,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap), 6)
         AS median_days
FROM gaps JOIN part p ON gaps.l_partkey = p.p_partkey
WHERE gap IS NOT NULL
GROUP BY 1
ORDER BY 1
""",
        "exact_dup_source_matrix": """
WITH d AS (
  SELECT DISTINCT source, substr(text, 1, 30) AS k FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(DISTINCT a.k) AS BIGINT) AS n_shared_openings
FROM d a JOIN d b ON a.k = b.k AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
""",
        "supplier_new_business_trend": """
WITH pairs AS (
  SELECT l.l_suppkey, o.o_custkey,
         CAST(year(o.o_orderdate) AS BIGINT) AS year,
         CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
first AS (
  SELECT l_suppkey, o_custkey, MIN(year) AS first_year
  FROM pairs GROUP BY 1, 2
)
SELECT pairs.year,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(pairs.cents) AS DOUBLE) / 100.0 AS total_revenue,
       ROUND(CAST(SUM(CASE WHEN pairs.year = first.first_year
                           THEN pairs.cents ELSE 0 END) AS DOUBLE)
             / CAST(SUM(pairs.cents) AS DOUBLE), 6)
         AS new_relationship_share
FROM pairs
JOIN first ON pairs.l_suppkey = first.l_suppkey
          AND pairs.o_custkey = first.o_custkey
GROUP BY 1
ORDER BY 1
""",
        "quantity_uniformity_screen": """
WITH per AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS grand_total,
         CAST(COUNT(*) AS BIGINT) AS n_bins
  FROM per
)
SELECT per.qty, per.n,
       ROUND(CAST(tot.grand_total AS DOUBLE) / tot.n_bins, 6) AS expected,
       ROUND(CAST((per.n * tot.n_bins - tot.grand_total)
                  * (per.n * tot.n_bins - tot.grand_total) AS DOUBLE)
             / (CAST(tot.n_bins AS DOUBLE) * CAST(tot.n_bins AS DOUBLE)
                * CAST(tot.grand_total AS DOUBLE)), 6) AS chi2_contrib
FROM per CROSS JOIN tot
ORDER BY per.qty
""",
        "type_hour_profile_similarity": """
WITH prof AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS h,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
norms AS (
  SELECT event_type, CAST(SUM(n * n) AS BIGINT) AS n2 FROM prof GROUP BY 1
),
dots AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(SUM(a.n * b.n) AS BIGINT) AS dot
  FROM prof a JOIN prof b ON a.h = b.h AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT dots.type_a, dots.type_b,
       ROUND(CAST(dots.dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
         AS cosine
FROM dots
JOIN norms na ON dots.type_a = na.event_type
JOIN norms nb ON dots.type_b = nb.event_type
ORDER BY dots.type_a, dots.type_b
""",
        "supplier_turnover": """
WITH active AS (
  SELECT DISTINCT l_suppkey, CAST(year(l_shipdate) AS BIGINT) AS year
  FROM lineitem
),
span AS (
  SELECT l_suppkey, MIN(year) AS y0, MAX(year) AS y1
  FROM active GROUP BY 1
)
SELECT active.year,
       CAST(COUNT(*) AS BIGINT) AS active_suppliers,
       CAST(SUM(CASE WHEN active.year = span.y0 THEN 1 ELSE 0 END) AS BIGINT)
         AS entering,
       CAST(SUM(CASE WHEN active.year = span.y1 THEN 1 ELSE 0 END) AS BIGINT)
         AS exiting
FROM active JOIN span ON active.l_suppkey = span.l_suppkey
GROUP BY 1
ORDER BY 1
""",
        "returns_by_value_band": """
WITH li AS (
  SELECT CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
  FROM lineitem
)
SELECT CASE WHEN cents < 1000000 THEN '0_lt10k'
            WHEN cents < 3000000 THEN '1_lt30k'
            WHEN cents < 5000000 THEN '2_lt50k'
            ELSE '3_ge50k' END AS value_band,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(ret) AS BIGINT) AS n_returned,
       ROUND(CAST(SUM(ret) AS DOUBLE) / COUNT(*), 6) AS return_rate,
       ROUND(CAST(SUM(CASE WHEN ret = 1 THEN cents ELSE 0 END) AS DOUBLE)
             / CAST(SUM(cents) AS DOUBLE), 6) AS returned_value_share
FROM li
GROUP BY 1
ORDER BY 1
""",
        "stopword_density_profile": """
WITH d AS (
  SELECT source,
         '  ' || replace(text, ' ', '  ') || '  ' AS s2,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS toks
  FROM documents
),
cnt AS (
  SELECT source, toks,
         CAST((length(s2) - length(replace(s2, ' the ', ''))) / 5
              + (length(s2) - length(replace(s2, ' and ', ''))) / 5
              + (length(s2) - length(replace(s2, ' of ', ''))) / 4
              + (length(s2) - length(replace(s2, ' to ', ''))) / 4
              + (length(s2) - length(replace(s2, ' a ', ''))) / 3
              AS BIGINT) AS stop
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(stop) AS BIGINT) AS n_stopwords,
       CAST(SUM(toks) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(stop) AS DOUBLE) / CAST(SUM(toks) AS DOUBLE), 6)
         AS stopword_density
FROM cnt
GROUP BY 1
ORDER BY 1
""",
        "nation_trade_imbalance": """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem
),
exp AS (
  SELECT s.s_nationkey AS nk, CAST(SUM(li.cents) AS BIGINT) AS exp_c
  FROM li JOIN supplier s ON li.l_suppkey = s.s_suppkey
  GROUP BY 1
),
imp AS (
  SELECT c.c_nationkey AS nk, CAST(SUM(li.cents) AS BIGINT) AS imp_c
  FROM li
  JOIN orders o ON li.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
),
flows AS (
  SELECT COALESCE(exp.nk, imp.nk) AS nk,
         COALESCE(exp_c, 0) AS exp_c, COALESCE(imp_c, 0) AS imp_c
  FROM exp FULL OUTER JOIN imp ON exp.nk = imp.nk
)
SELECT n.n_name AS nation,
       CAST(exp_c AS DOUBLE) / 100.0 AS exported,
       CAST(imp_c AS DOUBLE) / 100.0 AS imported,
       ROUND(CAST(exp_c - imp_c AS DOUBLE) / CAST(exp_c + imp_c AS DOUBLE), 6)
         AS imbalance
FROM flows JOIN nation n ON flows.nk = n.n_nationkey
ORDER BY 1
""",
        "nation_weekly_volatility": """
WITH wk AS (
  SELECT n.n_name AS nation,
         CAST(FLOOR(CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP))
                               / 86400) AS BIGINT) / 7.0) AS BIGINT) AS week,
         CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
d AS (
  SELECT nation, rev,
         LAG(rev) OVER (PARTITION BY nation ORDER BY week) AS prev
  FROM wk
)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n_weeks,
       ROUND(CAST(SUM(ABS(rev - prev)) AS DOUBLE)
             / CAST(SUM(prev) AS DOUBLE), 6) AS pooled_volatility,
       ROUND(CAST(SUM(CASE WHEN rev < prev THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS down_week_share
FROM d
WHERE prev IS NOT NULL
GROUP BY 1
ORDER BY 1
""",
        "label_cohesion": """
WITH ex AS (
  SELECT label, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
pd AS (
  SELECT label, dim, SUM(q) AS s, SUM(q * q) AS t
  FROM ex GROUP BY 1, 2
),
agg AS (
  SELECT label, SUM(s * s) AS s2, SUM(t) AS t FROM pd GROUP BY 1
),
n AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM embeddings GROUP BY 1
)
SELECT agg.label, n.n_vectors,
       ROUND(CAST(agg.s2 - agg.t AS DOUBLE)
             / (CAST(n.n_vectors AS DOUBLE)
                * CAST(n.n_vectors - 1 AS DOUBLE) * 100000000.0), 6)
         AS mean_pairwise_dot
FROM agg JOIN n ON agg.label = n.label
ORDER BY 1
""",
        "brand_cannibalization": """
WITH ot AS (
  SELECT l.l_orderkey, p.p_type AS ptype,
         CAST(COUNT(DISTINCT p.p_brand) AS BIGINT) AS n_brands
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
)
SELECT ptype,
       CAST(COUNT(*) AS BIGINT) AS n_order_types,
       CAST(SUM(CASE WHEN n_brands >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS multi_brand,
       ROUND(CAST(SUM(CASE WHEN n_brands >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS multi_brand_share,
       ROUND(AVG(n_brands), 6) AS mean_brands
FROM ot
GROUP BY 1
ORDER BY 1
""",
        "order_priority_escalation": """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
           AS d,
         o_orderpriority AS pri,
         CAST(substr(o_orderpriority, 1, 1) AS INT) AS rank_now
  FROM orders
),
pairs AS (
  SELECT LAG(pri) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
           AS from_priority,
         LAG(rank_now) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
           AS prev_rank,
         rank_now
  FROM o
)
SELECT from_priority,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(CASE WHEN rank_now < prev_rank THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS escalated_share,
       ROUND(CAST(SUM(CASE WHEN rank_now = prev_rank THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS held_share,
       ROUND(CAST(SUM(CASE WHEN rank_now > prev_rank THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS deescalated_share
FROM pairs
WHERE from_priority IS NOT NULL
GROUP BY 1
ORDER BY 1
""",
        "customer_supply_reach": """
WITH reach AS (
  SELECT o.o_custkey,
         CAST(COUNT(DISTINCT s.s_nationkey) AS BIGINT) AS n_nations
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1
)
SELECT c.c_mktsegment AS segment, reach.n_nations,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM reach JOIN customer c ON reach.o_custkey = c.c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
""",
        "returning_user_curve": """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS eday
  FROM events
),
anchor AS (
  SELECT user_id, MIN(eday) AS d0 FROM ev
  WHERE event_type = 'signup' GROUP BY 1
)
SELECT CAST(FLOOR((ev.eday - anchor.d0) / 7.0) AS BIGINT) AS offset_week,
       CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT ev.user_id), 6)
         AS events_per_user
FROM ev JOIN anchor ON ev.user_id = anchor.user_id
WHERE ev.eday >= anchor.d0
GROUP BY 1
ORDER BY 1
""",
        "sku_velocity_quadrant": """
WITH per AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM lineitem GROUP BY 1
),
med AS (
  SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY q) AS mq,
         percentile_cont(0.5) WITHIN GROUP (ORDER BY c) AS mc,
         CAST(SUM(c) AS BIGINT) AS tot
  FROM per
)
SELECT CASE WHEN per.q > med.mq THEN 'fast' ELSE 'slow' END || '_'
         || CASE WHEN per.c > med.mc THEN 'high' ELSE 'low' END AS quadrant,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(CAST(SUM(per.c) AS DOUBLE) / CAST(MAX(med.tot) AS DOUBLE), 6)
         AS revenue_share
FROM per CROSS JOIN med
GROUP BY 1
ORDER BY 1
""",
        "tax_discount_grid": """
WITH li AS (
  SELECT CAST(ROUND(CAST(l_discount AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS discount_pct,
         CAST(ROUND(CAST(l_tax AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS tax_pct,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem
),
per AS (
  SELECT discount_pct, tax_pct,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(cents) AS BIGINT) AS c
  FROM li GROUP BY 1, 2
),
rt AS (
  SELECT discount_pct, CAST(SUM(n_lines) AS BIGINT) AS row_total
  FROM per GROUP BY 1
)
SELECT per.discount_pct, per.tax_pct, per.n_lines,
       CAST(per.c AS DOUBLE) / 100.0 AS revenue,
       ROUND(CAST(per.n_lines AS DOUBLE) / rt.row_total, 6)
         AS discount_row_share
FROM per JOIN rt ON per.discount_pct = rt.discount_pct
ORDER BY per.discount_pct, per.tax_pct
""",
        "supplier_brand_focus": """
WITH sb AS (
  SELECT l.l_suppkey, p.p_brand AS brand,
         CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS bc
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
rk AS (
  SELECT l_suppkey, bc,
         ROW_NUMBER() OVER (PARTITION BY l_suppkey
                            ORDER BY bc DESC, brand) AS r
  FROM sb
),
per AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_brands,
         CAST(SUM(bc) AS BIGINT) AS tot,
         CAST(SUM(CASE WHEN r = 1 THEN bc ELSE 0 END) AS BIGINT) AS top
  FROM rk GROUP BY 1
)
SELECT CASE WHEN top * 50 <= tot * 3 THEN '0_le6pct'
            WHEN top * 200 <= tot * 13 THEN '1_le6_5pct'
            WHEN top * 100 <= tot * 7 THEN '2_le7pct'
            ELSE '3_gt7pct' END AS focus_band,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(AVG(n_brands), 6) AS mean_brand_breadth,
       ROUND(CAST(SUM(top) AS DOUBLE) / CAST(SUM(tot) AS DOUBLE), 6)
         AS pooled_focus
FROM per
GROUP BY 1
ORDER BY 1
""",
        "source_exact_dup_rate": """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
       ROUND(CAST(COUNT(*) - COUNT(DISTINCT text) AS DOUBLE) / COUNT(*), 6)
         AS dup_rate
FROM documents
GROUP BY 1
ORDER BY 1
""",
        "same_day_reorder_rate": """
WITH per_day AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
)
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(DISTINCT per_day.o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_cust_days,
       CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS multi_order_days,
       ROUND(CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS multi_day_share
FROM per_day JOIN customer c ON per_day.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY 1
""",
        "event_mix_drift": """
WITH ev AS (
  SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) / 7.0)
              AS BIGINT) AS week,
         event_type
  FROM events
),
wt AS (
  SELECT week, event_type, CAST(COUNT(*) AS BIGINT) AS n_wt
  FROM ev GROUP BY 1, 2
),
t AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ev GROUP BY 1
),
wk AS (SELECT week, CAST(SUM(n_wt) AS BIGINT) AS n_w FROM wt GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM ev)
SELECT wt.week,
       CAST(MAX(wk.n_w) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(ABS(wt.n_wt * tot.n_total - t.n_t * wk.n_w))
                  AS DOUBLE) * 500000.0
             / (CAST(MAX(wk.n_w) AS DOUBLE) * CAST(MAX(tot.n_total) AS DOUBLE)),
             6) AS tvd_ppm
FROM wt
JOIN t ON wt.event_type = t.event_type
JOIN wk ON wt.week = wk.week
CROSS JOIN tot
GROUP BY 1
ORDER BY 1
""",
        "lang_source_lift": """
WITH sl AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sl
  FROM documents GROUP BY 1, 2
),
s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY 1),
l AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM documents GROUP BY 1),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents)
SELECT sl.source, sl.lang, sl.n_sl,
       ROUND(CAST(sl.n_sl * t.n_total AS DOUBLE)
             / CAST(s.n_s * l.n_l AS DOUBLE), 6) AS lift
FROM sl
JOIN s ON sl.source = s.source
JOIN l ON sl.lang = l.lang
CROSS JOIN t
ORDER BY sl.source, sl.lang
""",
        "user_error_rate_bands": """
WITH per AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS total,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errs
  FROM events GROUP BY 1
)
SELECT CASE WHEN errs = 0 THEN '0_clean'
            WHEN errs * 20 <= total THEN '1_le5pct'
            WHEN errs * 5 <= total THEN '2_le20pct'
            ELSE '3_gt20pct' END AS error_band,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(total) AS BIGINT) AS n_events,
       CAST(SUM(errs) AS BIGINT) AS n_errors,
       ROUND(CAST(SUM(errs) AS DOUBLE) / CAST(SUM(total) AS DOUBLE), 6)
         AS pooled_error_share
FROM per
GROUP BY 1
ORDER BY 1
""",
        "brand_weekly_rank_volatility": """
WITH wk AS (
  SELECT FLOOR(CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400)
                    AS BIGINT) / 7.0) AS week,
         p.p_brand AS brand,
         CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT brand,
         CAST(RANK() OVER (PARTITION BY week
                           ORDER BY rev DESC, brand) AS BIGINT) AS rk
  FROM wk
)
SELECT brand,
       CAST(COUNT(*) AS BIGINT) AS n_weeks,
       ROUND(AVG(rk), 6) AS mean_rank,
       ROUND(CAST(COUNT(*) * SUM(rk * rk) - SUM(rk) * SUM(rk) AS DOUBLE)
             / CAST(COUNT(*) * COUNT(*) AS DOUBLE), 6) AS rank_variance,
       CAST(MIN(rk) AS BIGINT) AS best_rank,
       CAST(MAX(rk) AS BIGINT) AS worst_rank
FROM ranked
GROUP BY 1
ORDER BY 1
""",
        "size_band_revenue_trend": """
WITH per AS (
  SELECT CAST(year(l.l_shipdate) AS BIGINT) AS year,
         CAST(FLOOR(p.p_size / 10.0) AS INT) AS size_band,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS BIGINT) AS c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
yr AS (SELECT year, CAST(SUM(c) AS BIGINT) AS yt FROM per GROUP BY 1)
SELECT per.year, per.size_band, per.n_lines,
       CAST(per.c AS DOUBLE) / 100.0 AS revenue,
       ROUND(CAST(per.c AS DOUBLE) / CAST(yr.yt AS DOUBLE), 6) AS year_share
FROM per JOIN yr ON per.year = yr.year
ORDER BY per.year, per.size_band
""",
        "customer_value_uplift": """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
           AS d,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
rn AS (
  SELECT o_custkey, cents,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY d, o_orderkey) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY d DESC, o_orderkey DESC) AS rn_d
  FROM o
),
per AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN rn_a = 1 THEN cents ELSE 0 END) AS BIGINT)
           AS first_c,
         CAST(SUM(CASE WHEN rn_d = 1 THEN cents ELSE 0 END) AS BIGINT)
           AS last_c
  FROM rn GROUP BY 1
  HAVING COUNT(*) >= 2
)
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(first_c) AS DOUBLE) / 100.0 AS first_revenue,
       CAST(SUM(last_c) AS DOUBLE) / 100.0 AS last_revenue,
       ROUND(CAST(SUM(last_c) AS DOUBLE) / CAST(SUM(first_c) AS DOUBLE), 6)
         AS pooled_uplift,
       ROUND(CAST(SUM(CASE WHEN last_c > first_c THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS upgraded_share
FROM per JOIN customer c ON per.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY 1
""",
        "corpus_ingestion_drift": """
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS toks
  FROM documents
),
mx AS (SELECT MAX(doc_id) AS mxid FROM documents)
SELECT CAST(FLOOR(d.doc_id * 10 / (mx.mxid + 1)) AS INT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(nc), 6) AS mean_chars,
       CAST(SUM(nc) AS BIGINT) AS total_chars,
       ROUND(AVG(toks), 6) AS mean_tokens
FROM d CROSS JOIN mx
GROUP BY 1
ORDER BY 1
""",
        "nation_acctbal_quartiles": """
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY c.c_acctbal), 6)
         AS p25,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY c.c_acctbal), 6)
         AS p50,
       ROUND(percentile_cont(0.75) WITHIN GROUP (ORDER BY c.c_acctbal), 6)
         AS p75,
       ROUND(CAST(SUM(CASE WHEN c.c_acctbal < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS debt_share
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
ORDER BY 1
""",
        "avg_word_length_profile": """
WITH d AS (
  SELECT source, CAST(length(text) AS BIGINT) AS chars,
         CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
           AS spaces
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(chars - spaces) AS DOUBLE)
             / CAST(SUM(spaces + 1) AS DOUBLE), 6) AS mean_word_len,
       ROUND(CAST(SUM(spaces + 1) AS DOUBLE) / COUNT(*), 6)
         AS tokens_per_doc
FROM d
GROUP BY 1
ORDER BY 1
""",
        "customer_purchase_acceleration": """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
           AS d
  FROM orders
),
g AS (
  SELECT o_custkey, d, o_orderkey,
         d - LAG(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
           AS gap
  FROM o
),
dl AS (
  SELECT o_custkey,
         gap - LAG(gap) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
           AS delta
  FROM g WHERE gap IS NOT NULL
)
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_deltas,
       ROUND(AVG(delta), 6) AS mean_delta_days,
       ROUND(CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS accelerating_share
FROM dl JOIN customer c ON dl.o_custkey = c.c_custkey
WHERE delta IS NOT NULL
GROUP BY 1
ORDER BY 1
""",
        "order_value_band_transition": """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
           AS d,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
seq AS (
  SELECT o_custkey, d, o_orderkey,
         CASE WHEN cents < 12500000 THEN '0_lt125k'
              WHEN cents < 25000000 THEN '1_lt250k'
              WHEN cents < 37500000 THEN '2_lt375k'
              ELSE '3_ge375k' END AS to_band
  FROM o
),
pairs AS (
  SELECT LAG(to_band) OVER (PARTITION BY o_custkey
                            ORDER BY d, o_orderkey) AS from_band,
         to_band
  FROM seq
),
counts AS (
  SELECT from_band, to_band, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE from_band IS NOT NULL
  GROUP BY 1, 2
),
rt AS (
  SELECT from_band, CAST(SUM(n) AS BIGINT) AS row_total
  FROM counts GROUP BY 1
)
SELECT counts.from_band, counts.to_band, counts.n,
       ROUND(CAST(counts.n AS DOUBLE) / rt.row_total, 6) AS row_share
FROM counts JOIN rt ON counts.from_band = rt.from_band
ORDER BY counts.from_band, counts.to_band
""",
        "cross_region_trade_share": """
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem
)
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS year,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(l.cents) AS DOUBLE) / 100.0 AS total_revenue,
       ROUND(CAST(SUM(CASE WHEN cn.n_regionkey = sn.n_regionkey
                           THEN l.cents ELSE 0 END) AS DOUBLE)
             / CAST(SUM(l.cents) AS DOUBLE), 6) AS intra_share
FROM l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
GROUP BY 1
ORDER BY 1
""",
        "referential_integrity_audit": """
SELECT 'customer->nation' AS check_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'lineitem->orders',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem->part',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'lineitem->supplier',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
UNION ALL
SELECT 'nation->region',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
UNION ALL
SELECT 'orders->customer',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'supplier->nation',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
ORDER BY check_name
""",
        "user_lifespan_profile": """
WITH daily AS (
  SELECT user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS eday,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
per AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS days_active,
         MAX(eday) - MIN(eday) AS span_days,
         CAST(SUM(n) AS BIGINT) AS n_events
  FROM daily GROUP BY 1
)
SELECT days_active,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       ROUND(AVG(n_events), 6) AS events_per_user,
       ROUND(AVG(span_days), 6) AS avg_span_days
FROM per
GROUP BY 1
ORDER BY 1
""",
        "user_burst_ratio": """
WITH hourly AS (
  SELECT user_id, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS ehour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
per AS (
  SELECT user_id, CAST(MAX(n) AS BIGINT) AS peak,
         CAST(SUM(n) AS BIGINT) AS total
  FROM hourly GROUP BY 1
)
SELECT CASE WHEN peak * 50 <= total THEN '0_le2pct'
            WHEN peak * 33 <= total THEN '1_le3pct'
            WHEN peak * 25 <= total THEN '2_le4pct'
            ELSE '3_gt4pct' END AS burst_band,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(AVG(total), 6) AS avg_events,
       ROUND(AVG(peak), 6) AS avg_peak_hour_events
FROM per
GROUP BY 1
ORDER BY 1
""",
        "segment_halfyear_momentum": """
WITH o AS (
  SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS year,
         month(o_orderdate) AS m,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
agg AS (
  SELECT c.c_mktsegment AS segment, o.year,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN o.m <= 6 THEN o.cents ELSE 0 END) AS BIGINT)
           AS h1,
         CAST(SUM(CASE WHEN o.m > 6 THEN o.cents ELSE 0 END) AS BIGINT)
           AS h2
  FROM o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT segment, year, n_orders,
       CAST(h1 AS DOUBLE) / 100.0 AS h1_revenue,
       CAST(h2 AS DOUBLE) / 100.0 AS h2_revenue,
       ROUND(CASE WHEN h1 > 0
                  THEN CAST(h2 AS DOUBLE) / CAST(h1 AS DOUBLE) END, 6)
         AS momentum
FROM agg
ORDER BY segment, year
""",
        "purchases_in_promo_windows": """
WITH promos AS (
  SELECT DISTINCT date_trunc('week', ts) AS promo_start FROM events
),
p AS (
  SELECT ts, CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE event_type = 'purchase'
)
SELECT CAST(promo_start AS DATE) AS promo_start,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(v) AS DOUBLE) AS promo_revenue
FROM p JOIN promos
  ON p.ts >= promo_start AND p.ts < promo_start + INTERVAL 2 DAY
GROUP BY 1
ORDER BY 1
""",
        "token_burstiness": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
per_doc AS (
  SELECT doc_id, t AS tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
  GROUP BY 1, 2
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
per_tok AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(c) AS BIGINT) AS t,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM per_doc GROUP BY 1
)
SELECT tok AS token, df, t AS total,
       ROUND(CAST(n_docs * s2 - t * t AS DOUBLE)
             / CAST(n_docs * t AS DOUBLE), 6) AS vmr
FROM per_tok CROSS JOIN nd
WHERE df >= 5
ORDER BY vmr DESC, token
LIMIT 20
""",
        "brand_spearman": """
WITH base AS (
  SELECT p.p_brand AS brand, CAST(l.l_quantity AS BIGINT) AS qty,
         CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
              AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
qc AS (SELECT brand, qty, COUNT(*) AS c FROM base GROUP BY 1, 2),
qr AS (
  SELECT brand, qty,
         2 * (SUM(c) OVER (PARTITION BY brand ORDER BY qty
                           ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS rx2
  FROM qc
),
cc AS (SELECT brand, cents, COUNT(*) AS c FROM base GROUP BY 1, 2),
cr AS (
  SELECT brand, cents,
         2 * (SUM(c) OVER (PARTITION BY brand ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS ry2
  FROM cc
),
lines AS (
  SELECT b.brand, q.rx2, r.ry2
  FROM base b
  JOIN qr q ON b.brand = q.brand AND b.qty = q.qty
  JOIN cr r ON b.brand = r.brand AND b.cents = r.cents
),
stats AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(rx2) AS sx, SUM(ry2) AS sy,
         SUM(rx2 * rx2) AS sxx, SUM(ry2 * ry2) AS syy,
         SUM(rx2 * ry2) AS sxy
  FROM lines GROUP BY brand
)
SELECT brand, n_lines,
       ROUND(CAST(n_lines * sxy - sx * sy AS DOUBLE)
             / SQRT(CAST(n_lines * sxx - sx * sx AS DOUBLE)
                    * CAST(n_lines * syy - sy * sy AS DOUBLE)), 6) AS rho
FROM stats ORDER BY brand
""",
        "kwic_concordance": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tok
),
occ AS (SELECT doc_id, toks, i FROM pos WHERE toks[i] = 'the')
SELECT doc_id, CAST(i AS BIGINT) AS position,
       COALESCE(array_to_string(toks[GREATEST(1, i - 3):i - 1], ' '), '')
         AS left_ctx,
       COALESCE(array_to_string(toks[i + 1:i + 3], ' '), '') AS right_ctx
FROM occ
ORDER BY doc_id, position
LIMIT 200
""",
        "brand_transitions": """
WITH lines AS (
  SELECT l.l_orderkey, p.p_brand,
         CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
              AS BIGINT) AS cents,
         l.l_partkey, l.l_linenumber
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
rep AS (
  SELECT l_orderkey, p_brand AS brand
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
          ORDER BY cents DESC, l_partkey, l_linenumber) AS rn FROM lines)
  WHERE rn = 1
),
seq AS (
  SELECT o.o_custkey, CAST(o.o_orderdate AS DATE) AS d, o.o_orderkey, r.brand
  FROM orders o JOIN rep r ON o.o_orderkey = r.l_orderkey
),
paired AS (
  SELECT brand AS from_brand,
         LEAD(brand) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
           AS to_brand
  FROM seq
),
cells AS (
  SELECT from_brand, to_brand, CAST(COUNT(*) AS BIGINT) AS n
  FROM paired WHERE to_brand IS NOT NULL GROUP BY 1, 2
)
SELECT from_brand, to_brand, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_brand) AS DOUBLE), 6)
         AS row_share
FROM cells ORDER BY from_brand, to_brand
""",
        "snapshot_diff": """
WITH v1 AS (
  SELECT sku, CAST(SUM(qty) AS BIGINT) AS q1, CAST(COUNT(*) AS BIGINT) AS r1
  FROM read_parquet(['/root/repo/.fixtures/versioned_stock/data/d0.parquet',
                     '/root/repo/.fixtures/versioned_stock/data/d1.parquet'])
  GROUP BY sku
),
v2 AS (
  SELECT sku, CAST(SUM(qty) AS BIGINT) AS q2, CAST(COUNT(*) AS BIGINT) AS r2
  FROM read_parquet(['/root/repo/.fixtures/versioned_stock/data/d2.parquet'])
  GROUP BY sku
),
j AS (
  SELECT COALESCE(v1.sku, v2.sku) AS sku, q1, r1, q2, r2
  FROM v1 FULL OUTER JOIN v2 ON v1.sku = v2.sku
),
classed AS (
  SELECT CASE WHEN q1 IS NULL THEN 'added'
              WHEN q2 IS NULL THEN 'removed'
              WHEN q1 <> q2 OR r1 <> r2 THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         COALESCE(q2, 0) - COALESCE(q1, 0) AS qd
  FROM j
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_skus,
       CAST(SUM(qd) AS BIGINT) AS qty_delta
FROM classed GROUP BY 1 ORDER BY change_type
""",
        "rfm_segments": """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_d,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
scored AS (
  SELECT CAST(NTILE(5) OVER (ORDER BY last_d DESC, o_custkey) AS BIGINT)
           AS r_score,
         CAST(NTILE(5) OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT)
           AS f_score,
         CAST(NTILE(5) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT)
           AS m_score,
         cents
  FROM per_cust
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) AS segment_revenue
FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
        "lorenz_curve": """
WITH o AS (
  SELECT o_orderkey,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
dec AS (
  SELECT NTILE(10) OVER (ORDER BY cents, o_orderkey) AS decile, cents FROM o
),
per_dec AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS rev
  FROM dec GROUP BY 1
),
cum AS (
  SELECT d2.decile, CAST(SUM(p.rev) AS BIGINT) AS cum_rev
  FROM per_dec p JOIN per_dec d2 ON p.decile <= d2.decile
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot FROM per_dec)
SELECT CAST(p.decile AS BIGINT) AS decile, p.n_orders,
       ROUND(CAST(p.rev AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
         AS decile_share,
       ROUND(CAST(c.cum_rev AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
         AS cum_share
FROM per_dec p JOIN cum c ON p.decile = c.decile CROSS JOIN tot t
ORDER BY decile
""",
        "price_volume_bridge": """
WITH yearly AS (
  SELECT p.p_brand AS brand, CAST(YEAR(l.l_shipdate) AS INT) AS yr,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS BIGINT) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE YEAR(l.l_shipdate) IN (1995, 1996)
  GROUP BY 1, 2
)
SELECT y1.brand,
       ROUND(CAST(y1.r AS DOUBLE) / 100.0, 2) AS rev_1995,
       ROUND(CAST(y2.r AS DOUBLE) / 100.0, 2) AS rev_1996,
       ROUND(CAST(y2.r - y1.r AS DOUBLE) / 100.0, 2) AS delta,
       ROUND(CAST((y2.q - y1.q) * y1.r AS DOUBLE)
             / CAST(y1.q * 100 AS DOUBLE), 4) AS volume_effect,
       ROUND(CAST(y2.r * y1.q - y2.q * y1.r AS DOUBLE)
             / CAST(y1.q * 100 AS DOUBLE), 4) AS price_effect
FROM yearly y1
JOIN yearly y2 ON y1.brand = y2.brand AND y1.yr = 1995 AND y2.yr = 1996
ORDER BY y1.brand
""",
        "revenue_recognition": """
WITH o AS (
  SELECT o_orderkey,
         CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT)
           AS om,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
ls AS (
  SELECT l_orderkey,
         CAST(MAX(YEAR(l_shipdate) * 12 + MONTH(l_shipdate) - 1) AS BIGINT)
           AS sm
  FROM lineitem GROUP BY 1
),
sched AS (
  SELECT o.o_orderkey, o.cents, o.om,
         GREATEST(1, ls.sm - o.om + 1) AS n,
         unnest(range(0, CAST(GREATEST(1, ls.sm - o.om + 1) AS BIGINT))) AS i
  FROM o JOIN ls ON o.o_orderkey = ls.l_orderkey
),
shares AS (
  SELECT o_orderkey, om + i AS mkey,
         CAST(FLOOR(CAST(cents AS DOUBLE) / n) AS BIGINT)
           + CASE WHEN i < cents % n THEN 1 ELSE 0 END AS share
  FROM sched
)
SELECT printf('%04d-%02d', CAST(FLOOR(mkey / 12.0) AS INT),
              CAST(mkey % 12 + 1 AS INT)) AS month,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(share) AS DOUBLE) / 100.0, 2) AS recognized
FROM shares GROUP BY 1 ORDER BY month
""",
        "demand_intermittency": """
WITH li AS (
  SELECT l_partkey AS part,
         CAST(FLOOR(epoch(CAST(l_shipdate AS TIMESTAMP)) / 604800)
              AS BIGINT) AS week,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
wk AS (SELECT part, week, CAST(SUM(qty) AS BIGINT) AS q
       FROM li GROUP BY 1, 2),
pp AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS n, MIN(week) AS w0,
         MAX(week) AS w1, CAST(SUM(q) AS BIGINT) AS sq,
         CAST(SUM(q * q) AS BIGINT) AS sq2
  FROM wk GROUP BY 1
),
classed AS (
  SELECT CASE
           WHEN n = 1 THEN 'single'
           WHEN (w1 - w0) * 100 >= 132 * (n - 1)
                AND (n * sq2 - sq * sq) * 100 >= 49 * sq * sq THEN 'lumpy'
           WHEN (w1 - w0) * 100 >= 132 * (n - 1) THEN 'intermittent'
           WHEN (n * sq2 - sq * sq) * 100 >= 49 * sq * sq THEN 'erratic'
           ELSE 'smooth' END AS category,
         sq
  FROM pp
)
SELECT category, CAST(COUNT(*) AS BIGINT) AS n_skus,
       CAST(SUM(sq) AS BIGINT) AS total_qty
FROM classed GROUP BY 1 ORDER BY category
""",
        "template_prefix_groups": """
WITH tok AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
pre AS (
  SELECT doc_id, source, array_to_string(toks[1:5], ' ') AS prefix
  FROM tok WHERE len(toks) >= 5
)
SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(doc_id) AS BIGINT) AS example_doc
FROM pre GROUP BY prefix HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, prefix LIMIT 50
""",
        "supplier_on_time_rate": """
WITH lat AS (
  SELECT l.l_suppkey AS supplier,
         CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT CAST(supplier AS BIGINT) AS supplier,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(CASE WHEN days BETWEEN 0 AND 30 THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS on_time_share,
       ROUND(CAST(SUM(CASE WHEN days < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS inverted_share
FROM lat GROUP BY supplier ORDER BY supplier
""",
        "post_return_activity": """
WITH o AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_d
  FROM orders
),
fr AS (
  SELECT o.o_custkey, MIN(CAST(l.l_shipdate AS DATE)) AS first_return_d
  FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
  GROUP BY 1
),
counts AS (
  SELECT o.o_custkey,
         CAST(SUM(CASE WHEN o.order_d < fr.first_return_d THEN 1 ELSE 0 END)
              AS BIGINT) AS before_n,
         CAST(SUM(CASE WHEN o.order_d >= fr.first_return_d THEN 1 ELSE 0 END)
              AS BIGINT) AS after_n
  FROM o JOIN fr ON o.o_custkey = fr.o_custkey
  GROUP BY 1
)
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(before_n) AS DOUBLE) / COUNT(*), 6)
         AS avg_orders_before,
       ROUND(CAST(SUM(after_n) AS DOUBLE) / COUNT(*), 6)
         AS avg_orders_after
FROM counts j JOIN customer c ON j.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY segment
""",
        "inventory_aging": """
WITH flows AS (
  SELECT l_partkey AS sku, CAST(l_quantity AS BIGINT) AS qty,
         CAST(l_shipdate AS DATE) AS d, l_orderkey AS ord,
         l_linenumber AS line, l_orderkey % 2 = 0 AS is_receipt
  FROM lineitem
),
issued AS (
  SELECT sku, CAST(SUM(qty) AS BIGINT) AS issued
  FROM flows WHERE NOT is_receipt GROUP BY 1
),
layers AS (
  SELECT f.sku, f.d,
         GREATEST(0, LEAST(f.qty,
           SUM(f.qty) OVER (PARTITION BY f.sku
                            ORDER BY f.d, f.ord, f.line, f.qty
                            ROWS UNBOUNDED PRECEDING)
           - COALESCE(i.issued, 0))) AS remaining
  FROM flows f LEFT JOIN issued i ON f.sku = i.sku
  WHERE f.is_receipt
),
maxd AS (SELECT MAX(d) AS maxd FROM flows)
SELECT CAST(FLOOR((m.maxd - l.d) / 28.0) AS BIGINT) AS age_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_layers,
       CAST(SUM(l.remaining) AS BIGINT) AS remaining_qty
FROM layers l CROSS JOIN maxd m
WHERE l.remaining > 0
GROUP BY 1 ORDER BY age_bucket
""",
        "brand_price_mad": """
WITH priced AS (
  SELECT p.p_brand AS brand,
         CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
              AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
pts AS (SELECT brand, cents, COUNT(*) AS c FROM priced GROUP BY 1, 2),
cum AS (
  SELECT brand, cents, c,
         SUM(c) OVER (PARTITION BY brand ORDER BY cents
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(c) OVER (PARTITION BY brand) AS t
  FROM pts
),
med AS (SELECT brand, MIN(cents) AS m FROM cum WHERE cw * 2 >= t
        GROUP BY brand),
devs AS (
  SELECT p.brand, ABS(p.cents - m.m) AS dev
  FROM priced p JOIN med m ON p.brand = m.brand
),
dpts AS (SELECT brand, dev, COUNT(*) AS c FROM devs GROUP BY 1, 2),
dcum AS (
  SELECT brand, dev, c,
         SUM(c) OVER (PARTITION BY brand ORDER BY dev
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(c) OVER (PARTITION BY brand) AS t
  FROM dpts
),
mad AS (SELECT brand, MIN(dev) AS mad_cents FROM dcum WHERE cw * 2 >= t
        GROUP BY brand)
SELECT med.brand,
       CAST(med.m AS DOUBLE) / 100.0 AS median_price,
       CAST(mad.mad_cents AS DOUBLE) / 100.0 AS mad
FROM med JOIN mad ON med.brand = mad.brand
ORDER BY med.brand
""",
        # the MG sketch only prunes candidates; completeness is the
        # Misra-Gries theorem, so the plain GROUP BY twin must agree
        "heavy_hitter_tokens": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
ex AS (SELECT unnest(toks) AS t FROM tok),
tot AS (SELECT COUNT(*) AS n FROM ex),
cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM ex GROUP BY t)
SELECT t AS token, c AS n_occurrences
FROM cnt CROSS JOIN tot
WHERE c * 200 > n
ORDER BY n_occurrences DESC, token
""",
        # exact cross-multiplied unit-price comparison (cents/qty is
        # rational; the generator's extendedprice is NOT divisible by
        # quantity, so no engine ever divides)
        "price_change_events": """
WITH seq AS (
  SELECT l_partkey AS part,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents,
         CAST(l_quantity AS BIGINT) AS qty,
         LAG(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
             AS BIGINT)) OVER w AS pc,
         LAG(CAST(l_quantity AS BIGINT)) OVER w AS pq
  FROM lineitem
  -- cents/qty close the sort: the generator emits duplicate
  -- (orderkey, linenumber) rows, so (date, okey, ln) alone leaves
  -- cross-engine-ambiguous ties; with the values appended, remaining
  -- ties are fully identical rows and LAG is order-invariant
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY CAST(l_shipdate AS DATE), l_orderkey, l_linenumber,
                        CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                             * 100) AS BIGINT),
                        CAST(l_quantity AS BIGINT))
)
SELECT CAST(part AS BIGINT) AS partkey,
       CAST(SUM(CASE WHEN cents * pq <> pc * qty THEN 1 ELSE 0 END)
            AS BIGINT) AS n_changes,
       CAST(SUM(CASE WHEN cents * pq > pc * qty THEN 1 ELSE 0 END)
            AS BIGINT) AS n_up,
       CAST(SUM(CASE WHEN cents * pq < pc * qty THEN 1 ELSE 0 END)
            AS BIGINT) AS n_down
FROM seq WHERE pc IS NOT NULL
GROUP BY part
ORDER BY n_changes DESC, partkey
LIMIT 25
""",
        "single_source_risk": """
WITH ps AS (
  SELECT l_partkey AS part, l_suppkey AS supp,
         CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem GROUP BY 1, 2
),
top AS (
  SELECT part, supp AS top_supplier, rev AS top_rev,
         ROW_NUMBER() OVER (PARTITION BY part ORDER BY rev DESC, supp) AS rn
  FROM ps
),
agg AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(rev) AS BIGINT) AS tot
  FROM ps GROUP BY 1
)
SELECT CAST(a.part AS BIGINT) AS partkey,
       a.n_suppliers,
       CAST(t.top_supplier AS BIGINT) AS top_supplier,
       ROUND(CAST(t.top_rev AS DOUBLE) / CAST(a.tot AS DOUBLE), 6)
         AS top_share
FROM agg a JOIN top t ON a.part = t.part AND t.rn = 1
WHERE a.n_suppliers >= 2
ORDER BY top_share DESC, partkey
LIMIT 50
""",
        "seasonal_naive_backtest": """
WITH monthly AS (
  SELECT p.p_brand AS brand,
         CAST(YEAR(l.l_shipdate) * 12 + MONTH(l.l_shipdate) - 1 AS BIGINT)
           AS mkey,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
)
SELECT a.brand,
       CAST(COUNT(*) AS BIGINT) AS n_months,
       ROUND(CAST(SUM(ABS(a.qty - n.qty)) AS DOUBLE) / COUNT(*), 6) AS mae,
       ROUND(CAST(SUM(a.qty - n.qty) AS DOUBLE) / COUNT(*), 6) AS mean_bias
FROM monthly a
JOIN monthly n ON a.brand = n.brand AND a.mkey = n.mkey + 12
WHERE a.mkey >= 1996 * 12
GROUP BY a.brand ORDER BY a.brand
""",
        "langid_confusion": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sc AS (
  SELECT doc_id,
         len(list_filter(toks, t -> t IN ('the','and','is','of','a'))) AS s_en,
         len(list_filter(toks, t -> t IN ('der','die','und','das','ist'))) AS s_de,
         len(list_filter(toks, t -> t IN ('le','la','et','les','est'))) AS s_fr,
         len(list_filter(toks, t -> t IN ('el','la','los','es','que'))) AS s_es
  FROM tok
),
pred AS (
  SELECT doc_id,
         CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
              WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
              WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
              ELSE 'es' END AS lang_pred
  FROM sc
),
cells AS (
  SELECT d.lang, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
  GROUP BY 1, 2
)
SELECT lang, lang_pred, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE), 6)
         AS row_share
FROM cells ORDER BY lang, lang_pred
""",
        # the dedup_groups recursive closure, histogrammed by size
        "dedup_group_sizes": """
WITH RECURSIVE tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
pairs AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id
  FROM reach GROUP BY a
),
sizes AS (SELECT canonical_id, COUNT(*) AS group_size FROM comp GROUP BY 1)
SELECT CAST(group_size AS BIGINT) AS group_size,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(group_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1 ORDER BY group_size
""",
        "order_fill_status": """
WITH lines AS (
  SELECT l.l_orderkey AS ord, o.o_orderpriority AS priority,
         CASE WHEN CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP))
                              / 86400) AS BIGINT)
                   - CAST(FLOOR(epoch(CAST(o.o_orderdate AS TIMESTAMP))
                                / 86400) AS BIGINT)
                   BETWEEN 0 AND 30 THEN 1 ELSE 0 END AS on_time,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per_order AS (
  SELECT ord, priority, COUNT(*) AS nl, SUM(on_time) AS nt, SUM(rev) AS rev
  FROM lines GROUP BY 1, 2
),
tagged AS (
  SELECT priority,
         CASE WHEN nt = nl THEN 'all_on_time'
              WHEN nt = 0 THEN 'all_late'
              ELSE 'mixed' END AS status,
         nl, rev
  FROM per_order
)
SELECT priority, status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(nl) AS BIGINT) AS n_lines,
       CAST(SUM(rev) AS DOUBLE) AS revenue
FROM tagged GROUP BY 1, 2 ORDER BY priority, status
""",
        "ship_hazard": """
WITH lat AS (
  SELECT CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400)
              AS BIGINT)
         - CAST(FLOOR(epoch(CAST(o.o_orderdate AS TIMESTAMP)) / 86400)
                AS BIGINT) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
pos AS (SELECT d FROM lat WHERE d >= 0),
ev AS (SELECT d, COUNT(*) AS e FROM pos GROUP BY d),
tot AS (SELECT SUM(e) AS n FROM ev),
cum AS (
  SELECT d, e, SUM(e) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS c
  FROM ev
)
SELECT cum.d AS latency_days,
       CAST(cum.e AS BIGINT) AS n_events,
       CAST(t.n - cum.c + cum.e AS BIGINT) AS n_at_risk,
       ROUND(CAST(cum.e AS DOUBLE)
             / CAST(t.n - cum.c + cum.e AS DOUBLE), 6) AS hazard
FROM cum CROSS JOIN tot t
ORDER BY latency_days
""",
        "brand_price_slope": """
WITH base AS (
  SELECT p.p_brand AS brand,
         -- 8035 = epoch day of DATE '1992-01-01'
         CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400)
              AS BIGINT) - 8035 AS x,
         CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
              AS BIGINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
stats AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
  FROM base GROUP BY brand
)
SELECT brand, n AS n_lines,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS slope_cents_per_day,
       ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_cents
FROM stats ORDER BY brand
""",
        "readability_scores": """
WITH counted AS (
  SELECT source,
         CAST(LENGTH(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
              AS BIGINT) AS chars,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS BIGINT) AS words,
         GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
                          AS BIGINT)) AS sentences
  FROM documents
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(chars) AS BIGINT) AS n_chars,
         CAST(SUM(words) AS BIGINT) AS n_words,
         CAST(SUM(sentences) AS BIGINT) AS n_sentences
  FROM counted GROUP BY source
)
SELECT source, n_docs, n_chars, n_words, n_sentences,
       ROUND(4.71 * (CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE))
             + 0.5 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             - 21.43, 6) AS ari
FROM agg ORDER BY source
""",
        # CAST(l_quantity AS BIGINT) on the integral-valued double is
        # the inventory_aging precedent (round == truncate there)
        "eoq_recommendation": """
WITH d AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demand,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM lineitem GROUP BY 1
),
top AS (SELECT * FROM d ORDER BY demand DESC, l_partkey LIMIT 50),
pp AS (
  SELECT p_partkey,
         CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * 20) AS BIGINT)
           AS h_cents
  FROM part
)
SELECT t.l_partkey AS part, t.demand, t.n_orders,
       ROUND(SQRT(CAST(2 * t.demand * 10000 AS DOUBLE)
                  / CAST(pp.h_cents AS DOUBLE)), 6) AS eoq,
       ROUND(CAST(t.demand AS DOUBLE)
             / SQRT(CAST(2 * t.demand * 10000 AS DOUBLE)
                    / CAST(pp.h_cents AS DOUBLE)), 6) AS implied_orders
FROM top t JOIN pp ON t.l_partkey = pp.p_partkey
ORDER BY demand DESC, part
""",
        "order_batching": """
WITH o AS (
  SELECT o_custkey,
         CAST(FLOOR(CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP))
                               / 86400) AS BIGINT) / 7.0) AS BIGINT) AS wk,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
cw AS (
  SELECT o_custkey, wk, COUNT(*) AS k, SUM(cents) AS cents
  FROM o GROUP BY 1, 2
)
SELECT CAST(k AS BIGINT) AS orders_per_week,
       CAST(COUNT(*) AS BIGINT) AS n_customer_weeks,
       CAST(SUM(k) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) AS revenue
FROM cw GROUP BY k ORDER BY orders_per_week
""",
        "brand_price_ladder": """
WITH pts AS (
  SELECT DISTINCT p.p_brand AS brand,
         CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
              AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
gaps AS (
  SELECT brand, cents,
         LEAD(cents) OVER (PARTITION BY brand ORDER BY cents) - cents AS gap
  FROM pts
)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(cents) AS DOUBLE) / 100.0 AS lo,
       CAST(MAX(cents) AS DOUBLE) / 100.0 AS hi,
       CAST(MAX(gap) AS DOUBLE) / 100.0 AS max_gap
FROM gaps GROUP BY brand ORDER BY brand
""",
        "monthly_return_rate": """
WITH li AS (
  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)
           AS mkey,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
agg AS (
  SELECT mkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(is_r) AS BIGINT) AS n_returned,
         CAST(SUM(qty) AS BIGINT) AS total_qty,
         CAST(SUM(is_r * qty) AS BIGINT) AS returned_qty
  FROM li GROUP BY mkey
)
SELECT printf('%04d-%02d', CAST(FLOOR(mkey / 12.0) AS INT),
              CAST(mkey % 12 + 1 AS INT)) AS month,
       n_lines, n_returned,
       ROUND(CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
         AS line_return_rate,
       ROUND(CAST(returned_qty AS DOUBLE) / CAST(total_qty AS DOUBLE), 6)
         AS qty_return_rate
FROM agg ORDER BY month
""",
        "order_ship_span": """
WITH li AS (
  SELECT l_orderkey,
         CAST(FLOOR(epoch(CAST(l_shipdate AS TIMESTAMP)) / 86400)
              AS BIGINT) AS ep
  FROM lineitem
),
spans AS (
  SELECT l_orderkey, MAX(ep) - MIN(ep) AS span
  FROM li GROUP BY l_orderkey
)
SELECT o.o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(s.span) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS avg_span_days,
       CAST(SUM(CASE WHEN s.span > 60 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_60,
       ROUND(CAST(SUM(CASE WHEN s.span > 60 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS share_over_60
FROM spans s JOIN orders o ON s.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY priority
""",
        "char_trigram_profile": """
WITH low AS (
  SELECT lang, lower(text) AS t FROM documents WHERE length(text) >= 3
),
tri AS (
  SELECT lang, substr(t, CAST(i AS INT), 3) AS tri
  FROM low, unnest(range(1, length(t) - 1)) AS u(i)
),
filt AS (SELECT lang, tri FROM tri WHERE regexp_matches(tri, '^[a-z]{3}$')),
cnt AS (
  SELECT lang, tri, CAST(COUNT(*) AS BIGINT) AS n FROM filt GROUP BY 1, 2
),
tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY lang),
rk AS (
  SELECT c.lang, c.tri, c.n, t.t,
         ROW_NUMBER() OVER (PARTITION BY c.lang
                            ORDER BY c.n DESC, c.tri) AS r
  FROM cnt c JOIN tot t ON c.lang = t.lang
)
SELECT lang, tri AS trigram, n,
       ROUND(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM rk WHERE r <= 10
ORDER BY lang, n DESC, trigram
""",
        "latency_by_year": """
WITH lat AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400)
              AS BIGINT)
         - CAST(FLOOR(epoch(CAST(o.o_orderdate AS TIMESTAMP)) / 86400)
                AS BIGINT) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
py AS (
  SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(d) AS BIGINT) AS sum_d
  FROM lat WHERE d >= 0 GROUP BY yr
)
SELECT a.yr AS order_year, a.n_lines,
       ROUND(CAST(a.sum_d AS DOUBLE) / CAST(a.n_lines AS DOUBLE), 6)
         AS avg_latency_days,
       ROUND(CAST(a.sum_d AS DOUBLE) / CAST(a.n_lines AS DOUBLE)
             - CAST(p.sum_d AS DOUBLE) / CAST(p.n_lines AS DOUBLE), 6)
         AS delta_vs_prev
FROM py a LEFT JOIN py p ON a.yr = p.yr + 1
ORDER BY order_year
""",
        "customer_quartile_migration": """
WITH o AS (
  SELECT o_custkey,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400)
              AS BIGINT) AS ep,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
mid AS (
  SELECT CAST(FLOOR((MIN(ep) + MAX(ep)) / 2.0) AS BIGINT) AS mid FROM o
),
tagged AS (
  SELECT o_custkey, CASE WHEN ep > m.mid THEN 1 ELSE 0 END AS half, cents
  FROM o CROSS JOIN mid m
),
per AS (
  SELECT o_custkey, half, SUM(cents) AS cents FROM tagged GROUP BY 1, 2
),
q0 AS (
  SELECT o_custkey,
         CAST(NTILE(4) OVER (ORDER BY cents DESC, o_custkey) AS STRING)
           AS from_q
  FROM per WHERE half = 0
),
q1 AS (
  SELECT o_custkey,
         CAST(NTILE(4) OVER (ORDER BY cents DESC, o_custkey) AS STRING)
           AS to_q
  FROM per WHERE half = 1
),
j AS (
  SELECT COALESCE(q0.from_q, '-') AS from_q, COALESCE(q1.to_q, '-') AS to_q
  FROM q0 FULL OUTER JOIN q1 ON q0.o_custkey = q1.o_custkey
)
SELECT from_q, to_q, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM j GROUP BY 1, 2 ORDER BY from_q, to_q
""",
        "dormancy_by_segment": """
WITH o AS (
  SELECT o_custkey,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400)
              AS BIGINT) AS ep,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
pc AS (
  SELECT o_custkey, MAX(ep) AS last_ep, SUM(cents) AS cents
  FROM o GROUP BY 1
),
hz AS (SELECT MAX(ep) AS hz FROM o),
t AS (
  SELECT p.o_custkey, p.cents,
         CASE WHEN p.last_ep < h.hz - 365 THEN 1 ELSE 0 END AS dormant
  FROM pc p CROSS JOIN hz h
),
j AS (
  SELECT c.c_mktsegment AS segment, t.dormant, t.cents
  FROM t JOIN customer c ON t.o_custkey = c.c_custkey
)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(dormant) AS BIGINT) AS n_dormant,
       ROUND(CAST(SUM(dormant) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dormant_share,
       CASE WHEN SUM(dormant) > 0 THEN
         ROUND(CAST(SUM(dormant * cents) AS DOUBLE)
               / (CAST(SUM(dormant) AS DOUBLE) * 100.0), 2)
       END AS avg_dormant_ltv,
       CASE WHEN COUNT(*) - SUM(dormant) > 0 THEN
         ROUND(CAST(SUM((1 - dormant) * cents) AS DOUBLE)
               / (CAST(COUNT(*) - SUM(dormant) AS DOUBLE) * 100.0), 2)
       END AS avg_active_ltv
FROM j GROUP BY segment ORDER BY segment
""",
        "sentence_length_profile": """
WITH sent AS (
  SELECT unnest(regexp_split_to_array(text, '[.!?]+')) AS s FROM documents
),
tok AS (
  SELECT len(list_filter(regexp_split_to_array(s, '\\s+'),
                         t -> t <> '')) AS n_tokens
  FROM sent
),
hist AS (
  SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_sentences
  FROM tok WHERE n_tokens > 0 GROUP BY 1
),
tot AS (SELECT SUM(n_sentences) AS t FROM hist)
SELECT n_tokens, n_sentences,
       ROUND(CAST(n_sentences AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM hist CROSS JOIN tot ORDER BY n_tokens
""",
        "customer_value_cv": """
WITH o AS (
  SELECT o_custkey,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
st AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(cents) AS s, SUM(cents * cents) AS s2
  FROM o GROUP BY 1
)
SELECT CAST(o_custkey AS BIGINT) AS custkey, n_orders,
       ROUND(CAST(s AS DOUBLE) / (CAST(n_orders AS DOUBLE) * 100.0), 2)
         AS avg_order_value,
       ROUND(SQRT(GREATEST(CAST(0 AS DOUBLE),
                  CAST(n_orders AS DOUBLE) * CAST(s2 AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)))
             / CAST(s AS DOUBLE), 6) AS cv
FROM st WHERE n_orders >= 5
ORDER BY n_orders DESC, custkey LIMIT 25
""",
        # same 64/64 chunk rule as the doc_chunks oracle, stride==size
        "chunk_dedup_stats": """
WITH tok AS (
  SELECT source, doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
ch AS (
  SELECT source, doc_id,
         sha256(array_to_string(
           list_slice(toks, CAST(s + 1 AS BIGINT), CAST(s + 64 AS BIGINT)),
           ' ')) AS h
  FROM tok, unnest(range(0, len(toks), 64)) AS u(s)
  WHERE len(toks) > 0
),
corpus AS (SELECT h, COUNT(*) AS n FROM ch GROUP BY h)
SELECT ch.source,
       CAST(COUNT(DISTINCT ch.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       ROUND(CAST(SUM(CASE WHEN c.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_share
FROM ch JOIN corpus c ON ch.h = c.h
GROUP BY ch.source ORDER BY ch.source
""",
        # the jaccard_pairs CTE rolled up by canonical source pair
        "neardup_source_matrix": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
pairs AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4)
           AS jaccard
  FROM shared
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) >= 0.5
),
tagged AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b,
         p.jaccard
  FROM pairs p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MAX(jaccard) AS max_jaccard
FROM tagged GROUP BY 1, 2 ORDER BY source_a, source_b
""",
        "part_size_mix": """
WITH per AS (
  SELECT CAST(p.p_size AS BIGINT) AS size,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
         SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
),
tot AS (SELECT SUM(qty) AS tq, SUM(cents) AS tc FROM per)
SELECT size, n_lines, qty,
       ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
       ROUND(CAST(qty AS DOUBLE) / CAST(tq AS DOUBLE), 6) AS qty_share,
       ROUND(CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE), 6) AS revenue_share
FROM per CROSS JOIN tot ORDER BY size
""",
        "event_dow_hour_matrix": """
WITH cells AS (
  SELECT CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
tot AS (SELECT SUM(n_events) AS t FROM cells)
SELECT dow, hour, n_events,
       ROUND(CAST(n_events AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM cells CROSS JOIN tot ORDER BY dow, hour
""",
        "line_position_profile": """
SELECT CAST(l_linenumber AS BIGINT) AS position,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_qty,
       ROUND(CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                                 * 100) AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 100.0), 2) AS avg_value
FROM lineitem GROUP BY 1 ORDER BY position
""",
        "embedding_dim_stats": """
WITH ex AS (
  SELECT CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
st AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, SUM(q) AS s, SUM(q*q) AS s2
  FROM ex GROUP BY dim
)
SELECT dim, n,
       ROUND(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0), 6) AS mean,
       ROUND((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 100000000.0), 6)
         AS variance
FROM st ORDER BY dim
""",
        "label_balance": """
WITH ex AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
pv AS (SELECT vec_id, label, SUM(q*q) AS sq FROM ex GROUP BY 1, 2),
pd AS (SELECT label, dim, SUM(q) AS s FROM ex GROUP BY 1, 2),
geom AS (SELECT label, SUM(s*s) AS css FROM pd GROUP BY 1),
base AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors, SUM(sq) AS vss
  FROM pv GROUP BY 1
),
tot AS (SELECT SUM(n_vectors) AS t FROM base)
SELECT b.label, b.n_vectors,
       ROUND(CAST(b.n_vectors AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS share,
       ROUND(CAST(b.vss AS DOUBLE)
             / (CAST(b.n_vectors AS DOUBLE) * 100000000.0), 6)
         AS mean_sq_norm,
       ROUND(CAST(g.css AS DOUBLE)
             / (CAST(b.n_vectors AS DOUBLE) * CAST(b.n_vectors AS DOUBLE)
                * 100000000.0), 6) AS centroid_sq_norm
FROM base b JOIN geom g ON b.label = g.label CROSS JOIN tot t
ORDER BY b.label
""",
        # identical exact-int-to-double score expression on both
        # engines, so the argmin is cross-engine deterministic
        "nearest_centroid_confusion": """
WITH ex AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
sz AS (
  SELECT CAST(label AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS nk
  FROM embeddings GROUP BY 1
),
cent AS (SELECT label AS k, dim, SUM(q) AS s FROM ex GROUP BY 1, 2),
bk AS (SELECT k, SUM(s*s) AS b FROM cent GROUP BY 1),
dots AS (
  SELECT e.vec_id, e.label, c.k, SUM(e.q * c.s) AS a
  FROM ex e JOIN cent c ON e.dim = c.dim
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT d.vec_id, d.label, d.k,
         CAST(b.b - 2 * s.nk * d.a AS DOUBLE)
         / CAST(s.nk * s.nk AS DOUBLE) AS f
  FROM dots d JOIN bk b ON d.k = b.k JOIN sz s ON d.k = s.k
),
asg AS (
  SELECT vec_id, label, k AS assigned,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY f, k) AS rn
  FROM scored
),
cells AS (
  SELECT label, assigned, CAST(COUNT(*) AS BIGINT) AS n
  FROM asg WHERE rn = 1 GROUP BY 1, 2
)
SELECT label, assigned, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY label) AS DOUBLE), 6)
         AS row_share
FROM cells ORDER BY label, assigned
""",
        "segment_priority_mix": """
WITH cells AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT segment, priority, n_orders,
       ROUND(CAST(n_orders AS DOUBLE)
             / CAST(SUM(n_orders) OVER (PARTITION BY segment) AS DOUBLE), 6)
         AS share
FROM cells ORDER BY segment, priority
""",
        "brand_seasonal_peak": """
WITH cells AS (
  SELECT p.p_brand AS brand, CAST(month(l.l_shipdate) AS BIGINT) AS month,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
rk AS (
  SELECT brand, month, qty,
         SUM(qty) OVER (PARTITION BY brand) AS t,
         ROW_NUMBER() OVER (PARTITION BY brand ORDER BY qty DESC, month)
           AS rn
  FROM cells
)
SELECT brand, month AS peak_month, qty AS peak_qty,
       ROUND(CAST(qty AS DOUBLE) / CAST(t AS DOUBLE), 6) AS peak_share
FROM rk WHERE rn = 1 ORDER BY brand
""",
        "order_total_consistency": """
WITH term AS (
  SELECT l_orderkey,
         CAST(l_extendedprice AS DECIMAL(18,2))
         * (1 - CAST(l_discount AS DECIMAL(18,2)))
         * (1 + CAST(l_tax AS DECIMAL(18,2))) AS term
  FROM lineitem
),
derived AS (
  SELECT l_orderkey, CAST(ROUND(SUM(term) * 100) AS BIGINT) AS derived_cents
  FROM term GROUP BY 1
),
j AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         ABS(CAST(ROUND(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) - d.derived_cents) AS diff
  FROM orders o JOIN derived d ON o.o_orderkey = d.l_orderkey
)
SELECT yr AS order_year, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN diff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatched,
       ROUND(CAST(MAX(diff) AS DOUBLE) / 100.0, 2) AS max_abs_diff
FROM j GROUP BY 1 ORDER BY order_year
""",
        # RANGE 51 PRECEDING over integer weeks == the engine's
        # explode-densified 52-week fan (gaps contribute nothing)
        "weekly_zchart": """
WITH o AS (
  SELECT CAST(FLOOR(CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP))
                               / 86400) AS BIGINT) / 7.0) AS BIGINT) AS wk,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
weekly AS (SELECT wk, SUM(cents) AS rev FROM o GROUP BY 1),
cum AS (
  SELECT wk, rev,
         SUM(rev) OVER (ORDER BY wk ROWS UNBOUNDED PRECEDING) AS cum
  FROM weekly
),
mat AS (
  SELECT wk,
         SUM(rev) OVER (ORDER BY wk
                        RANGE BETWEEN 51 PRECEDING AND CURRENT ROW) AS mat
  FROM weekly
)
SELECT c.wk AS week,
       ROUND(CAST(c.rev AS DOUBLE) / 100.0, 2) AS revenue,
       ROUND(CAST(c.cum AS DOUBLE) / 100.0, 2) AS cum_revenue,
       ROUND(CAST(m.mat AS DOUBLE) / 100.0, 2) AS mat_revenue
FROM cum c JOIN mat m ON c.wk = m.wk ORDER BY week
""",
        "nation_segment_grid": """
WITH pc AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
base AS (
  SELECT n.n_name AS nation, c.c_mktsegment AS segment,
         COALESCE(p.cents, 0) AS cents, COALESCE(p.n_orders, 0) AS n_orders
  FROM customer c
  LEFT JOIN pc p ON c.c_custkey = p.o_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
cells AS (
  SELECT nation, segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(n_orders) AS BIGINT) AS n_orders, SUM(cents) AS cents
  FROM base GROUP BY 1, 2
)
SELECT nation, segment, n_customers, n_orders,
       ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
       ROUND(CAST(n_customers AS DOUBLE)
             / CAST(SUM(n_customers) OVER (PARTITION BY nation) AS DOUBLE),
             6) AS segment_share
FROM cells ORDER BY nation, segment
""",
        "type_discount_profile": """
SELECT p.p_type AS ptype, CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(CAST(ROUND(CAST(l.l_discount AS DECIMAL(18,2)) * 100)
                           AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_discount_pts,
       ROUND(CAST(SUM(CASE WHEN CAST(ROUND(CAST(l.l_discount
                                             AS DECIMAL(18,2)) * 100)
                                AS BIGINT) = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS zero_discount_share,
       ROUND(CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice
                                      AS DECIMAL(18,2)) * 100)
                           AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1 ORDER BY ptype
""",
        "token_length_histogram": """
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
hist AS (
  SELECT CAST(LENGTH(tok) AS BIGINT) AS len,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM tok GROUP BY 1
),
tot AS (SELECT SUM(n_tokens) AS t FROM hist)
SELECT len, n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM hist CROSS JOIN tot ORDER BY len
""",
        "discount_cost_by_year": """
WITH li AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(l_discount AS DECIMAL(18,2)) AS given,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))) AS kept
  FROM lineitem
)
SELECT yr AS ship_year, CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(given) AS DOUBLE), 2) AS discount_cost,
       ROUND(CAST(SUM(kept) AS DOUBLE), 2) AS net_revenue,
       ROUND(CAST(SUM(given) * 100 AS DOUBLE)
             / CAST(SUM(given) + SUM(kept) AS DOUBLE), 6) AS giveback_pct
FROM li GROUP BY 1 ORDER BY ship_year
""",
        "partname_word_prices": """
WITH ex AS (
  SELECT p_partkey,
         CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents,
         unnest(string_split(p_name, ' ')) AS word
  FROM part
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(CAST(SUM(cents) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 100.0), 2) AS avg_retail
FROM ex WHERE word <> ''
GROUP BY word ORDER BY n_parts DESC, word LIMIT 25
""",
        "first_order_cohort": """
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
         o_orderpriority AS priority,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
first AS (
  SELECT o_custkey, priority AS first_priority
  FROM (
    SELECT o_custkey, priority,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY d, o_orderkey) AS rn
    FROM o
  ) WHERE rn = 1
),
life AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(cents) AS cents
  FROM o GROUP BY 1
)
SELECT f.first_priority, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(l.n_orders) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS avg_orders,
       ROUND(CAST(SUM(l.cents) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 100.0), 2)
         AS avg_lifetime_value
FROM first f JOIN life l ON f.o_custkey = l.o_custkey
GROUP BY 1 ORDER BY first_priority
""",
        "qty_discount_curve": """
SELECT CAST(l_quantity AS BIGINT) AS qty,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(CAST(ROUND(CAST(l_discount AS DECIMAL(18,2)) * 100)
                           AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_discount_pts
FROM lineitem GROUP BY 1 ORDER BY qty
""",
        "returns_vs_latency": """
WITH lat AS (
  SELECT CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400)
              AS BIGINT)
         - CAST(FLOOR(epoch(CAST(o.o_orderdate AS TIMESTAMP)) / 86400)
                AS BIGINT) AS d,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
b AS (
  SELECT CAST(FLOOR(d / 7.0) AS BIGINT) AS week_bucket, is_r
  FROM lat WHERE d >= 0
)
SELECT week_bucket, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(is_r) AS BIGINT) AS n_returned,
       ROUND(CAST(SUM(is_r) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS return_rate
FROM b GROUP BY 1 ORDER BY week_bucket
""",
        "acctbal_activity_bands": """
WITH cust AS (
  SELECT c_custkey,
         CAST(FLOOR(CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)) * 100)
                         AS BIGINT) / 100000.0) AS BIGINT) AS band
  FROM customer
),
per AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
base AS (
  SELECT c.band, COALESCE(p.n_orders, 0) AS n_orders,
         COALESCE(p.cents, 0) AS cents
  FROM cust c LEFT JOIN per p ON c.c_custkey = p.o_custkey
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(n_orders) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS avg_orders,
       ROUND(CAST(SUM(cents) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 100.0), 2)
         AS avg_lifetime_value
FROM base GROUP BY band ORDER BY band
""",
        "negative_balance_profile": """
WITH cust AS (
  SELECT c_custkey, c_mktsegment AS segment,
         CASE WHEN CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)) * 100)
                   AS BIGINT) < 0 THEN 1 ELSE 0 END AS neg
  FROM customer
),
per AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
base AS (
  SELECT c.segment, c.neg, COALESCE(p.cents, 0) AS cents
  FROM cust c LEFT JOIN per p ON c.c_custkey = p.o_custkey
)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(neg) AS BIGINT) AS n_negative,
       ROUND(CAST(SUM(neg) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS negative_share,
       ROUND(CAST(SUM(neg * cents) AS DOUBLE) / CAST(SUM(cents) AS DOUBLE),
             6) AS negative_revenue_share
FROM base GROUP BY segment ORDER BY segment
""",
        "supplier_nation_load": """
WITH per AS (
  SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
         SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1
),
tot AS (SELECT SUM(cents) AS tc FROM per)
SELECT nation, n_lines, qty,
       ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
       ROUND(CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE), 6)
         AS revenue_share
FROM per CROSS JOIN tot ORDER BY nation
""",
        "month_end_push": """
WITH o AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         CASE WHEN CAST(FLOOR(epoch(CAST(last_day(CAST(o_orderdate AS DATE))
                                         AS TIMESTAMP)) / 86400) AS BIGINT)
                   - CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP))
                                / 86400) AS BIGINT) <= 2
              THEN 1 ELSE 0 END AS me,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
)
SELECT yr AS order_year, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(me) AS BIGINT) AS n_month_end,
       ROUND(CAST(SUM(me) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS month_end_share,
       ROUND(CAST(SUM(me * cents) AS DOUBLE) / CAST(SUM(cents) AS DOUBLE),
             6) AS month_end_revenue_share
FROM o GROUP BY 1 ORDER BY order_year
""",
        "event_value_moments": """
WITH ev AS (
  SELECT event_type,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(cents) AS s, SUM(cents * cents) AS s2
  FROM ev WHERE cents IS NOT NULL GROUP BY 1
)
SELECT event_type, n,
       ROUND(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6)
         AS mean_value,
       ROUND((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 10000.0), 6)
         AS variance
FROM st ORDER BY event_type
""",
        "split_order_screen": """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
grp AS (
  SELECT yr, o_custkey, d, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(cents) AS cents
  FROM o GROUP BY 1, 2, 3
),
per AS (
  SELECT yr,
         CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_multi_groups,
         CAST(SUM(n) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
           AS n_multi_orders,
         SUM(cents) AS tc,
         SUM(CASE WHEN n >= 2 THEN cents ELSE 0 END) AS mc
  FROM grp GROUP BY 1
)
SELECT yr AS order_year, n_multi_groups, n_multi_orders,
       ROUND(CAST(n_multi_orders AS DOUBLE) / CAST(n_orders AS DOUBLE), 6)
         AS multi_order_share,
       ROUND(CAST(mc AS DOUBLE) / CAST(tc AS DOUBLE), 6)
         AS multi_revenue_share
FROM per ORDER BY order_year
""",
        "supplier_leadtime_cv": """
WITH lat AS (
  SELECT l.l_suppkey,
         CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400) AS BIGINT)
         - CAST(FLOOR(epoch(CAST(o.o_orderdate AS TIMESTAMP)) / 86400)
                AS BIGINT) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
st AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(d) AS s, SUM(d * d) AS s2
  FROM lat WHERE d >= 0 GROUP BY 1
)
SELECT st.l_suppkey AS suppkey, s.s_name AS supplier, n_lines,
       ROUND(CAST(st.s AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
         AS mean_latency,
       ROUND(SQRT(GREATEST(0.0,
                           CAST(n_lines AS DOUBLE) * CAST(s2 AS DOUBLE)
                           - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE)))
             / CAST(st.s AS DOUBLE), 6) AS cv_latency
FROM st JOIN supplier s ON st.l_suppkey = s.s_suppkey
ORDER BY suppkey
""",
        "tax_burden_profile": """
WITH li AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         l_returnflag AS returnflag,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS p,
         CAST(ROUND(l_tax * 100) AS BIGINT) AS t
  FROM lineitem
),
st AS (
  SELECT ship_year, returnflag, CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(p) AS sp, SUM(p * t) AS spt
  FROM li GROUP BY 1, 2
)
SELECT ship_year, returnflag, n_lines,
       ROUND(CAST(sp AS DOUBLE) / 100.0, 2) AS net_revenue,
       ROUND((CAST(sp AS DOUBLE) * 100.0 + CAST(spt AS DOUBLE)) / 10000.0, 2)
         AS gross_revenue,
       ROUND(CAST(spt AS DOUBLE) / (CAST(sp AS DOUBLE) * 100.0), 6)
         AS effective_tax_rate
FROM st ORDER BY ship_year, returnflag
""",
        "retailprice_premium": """
WITH li AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS p
  FROM lineitem
),
pt AS (
  SELECT p_partkey, p_brand AS brand,
         CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS rc
  FROM part
),
st AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(p) AS realized, SUM(rc * qty) AS list
  FROM li JOIN pt ON li.l_partkey = pt.p_partkey GROUP BY 1
)
SELECT brand, n_lines,
       ROUND(CAST(realized AS DOUBLE) / 100.0, 2) AS realized_revenue,
       ROUND(CAST(list AS DOUBLE) / 100.0, 2) AS list_value,
       ROUND(CAST(realized AS DOUBLE) / CAST(list AS DOUBLE), 6)
         AS realized_to_list
FROM st ORDER BY brand
""",
        "dau_wau_stickiness": """
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM pairs GROUP BY 1),
wau AS (
  SELECT d2 AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM (
    SELECT p.d + CAST(u.o AS INT) AS d2, p.user_id
    FROM pairs p, unnest(range(0, 7)) AS u(o)
  ) GROUP BY 1
)
SELECT dau.d AS day, dau.dau AS dau, wau.wau AS wau,
       ROUND(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
         AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
ORDER BY day
""",
        "kmeans_iteration": """
WITH ex AS (
  SELECT vec_id, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
seeds AS (
  SELECT CAST(vec_id AS BIGINT) AS k, dim, q AS c FROM ex WHERE vec_id < 8
),
d2 AS (
  SELECT e.vec_id, s.k, SUM((e.q - s.c) * (e.q - s.c)) AS d2
  FROM ex e JOIN seeds s ON e.dim = s.dim
  GROUP BY 1, 2
),
assigned AS (
  SELECT vec_id, k, d2 AS dist FROM (
    SELECT vec_id, k, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, k) AS rn
    FROM d2
  ) WHERE rn = 1
),
new_sums AS (
  SELECT a.k, e.dim, SUM(e.q) AS s
  FROM ex e JOIN assigned a ON e.vec_id = a.vec_id
  GROUP BY 1, 2
),
base AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_vectors, SUM(dist) AS sd
  FROM assigned GROUP BY 1
),
shift AS (
  SELECT n.k,
         SUM((b.n_vectors * sd.c - n.s) * (b.n_vectors * sd.c - n.s)) AS sh
  FROM new_sums n
  JOIN seeds sd ON n.k = sd.k AND n.dim = sd.dim
  JOIN base b ON n.k = b.k
  GROUP BY 1
)
SELECT b.k AS cluster, b.n_vectors,
       ROUND(CAST(b.sd AS DOUBLE)
             / (CAST(b.n_vectors AS DOUBLE) * 100000000.0), 6)
         AS mean_sq_dist,
       ROUND(CAST(s.sh AS DOUBLE)
             / (CAST(b.n_vectors AS DOUBLE) * CAST(b.n_vectors AS DOUBLE)
                * 100000000.0), 6) AS centroid_shift_sq
FROM base b JOIN shift s ON b.k = s.k
ORDER BY cluster
""",
        "copurchase_degree_dist": """
WITH lp AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
pairs AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT pa AS p FROM pairs UNION ALL SELECT pb AS p FROM pairs
  ) GROUP BY p
),
parts AS (SELECT DISTINCT l_partkey AS p FROM lineitem)
SELECT COALESCE(d.degree, CAST(0 AS BIGINT)) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM parts LEFT JOIN deg d ON parts.p = d.p
GROUP BY 1 ORDER BY degree
""",
        "embedding_outliers": """
WITH ex AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
sums AS (SELECT dim, SUM(q) AS s FROM ex GROUP BY 1),
gate AS (SELECT SUM(s * s) AS ssq FROM sums),
cnt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nn FROM embeddings),
pv AS (
  SELECT e.vec_id, e.label, SUM(e.q * e.q) AS xx, SUM(e.q * s.s) AS xs
  FROM ex e JOIN sums s ON e.dim = s.dim
  GROUP BY 1, 2
),
scored AS (
  SELECT vec_id, label,
         nn * nn * xx - 2 * nn * xs + ssq AS num, nn * nn AS n2
  FROM pv CROSS JOIN gate CROSS JOIN cnt
)
SELECT vec_id, label,
       ROUND(CAST(num AS DOUBLE)
             / (CAST(n2 AS DOUBLE) * 100000000.0), 6) AS sq_dist
FROM scored ORDER BY num DESC, vec_id LIMIT 25
""",
        "event_interarrival_profile": """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         event_id
  FROM events
),
gaps AS (
  SELECT event_type, gap FROM (
    SELECT event_type,
           us - LAG(us) OVER (PARTITION BY user_id, event_type
                              ORDER BY us, event_id) AS gap
    FROM ev
  ) WHERE gap IS NOT NULL
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         SUM(CAST(gap AS HUGEINT)) AS s,
         SUM(CAST(gap AS HUGEINT) * gap) AS s2
  FROM gaps GROUP BY 1
)
SELECT event_type, n_gaps,
       ROUND(CAST(s AS DOUBLE) / (CAST(n_gaps AS DOUBLE) * 1000000.0), 6)
         AS mean_gap_seconds,
       ROUND(SQRT(GREATEST(0.0,
                           CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
                           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)))
             / CAST(s AS DOUBLE), 6) AS cv_gap
FROM st ORDER BY event_type
""",
        "user_type_diversity": """
WITH breadth AS (
  SELECT user_id,
         CAST(FLOOR(CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 86400)
                         AS BIGINT) / 7.0) AS BIGINT) AS week,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
  FROM events GROUP BY 1, 2
)
SELECT n_types, CAST(COUNT(*) AS BIGINT) AS n_user_weeks
FROM breadth GROUP BY 1 ORDER BY n_types
""",
        "supplier_balance_bands": """
WITH supp AS (
  SELECT s_suppkey,
         CAST(FLOOR(CAST(ROUND(CAST(s_acctbal AS DECIMAL(18,2)) * 100)
                         AS BIGINT) / 100000.0) AS BIGINT) AS band
  FROM supplier
),
lat AS (
  SELECT l.l_suppkey,
         CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400) AS BIGINT)
         - CAST(FLOOR(epoch(CAST(o.o_orderdate AS TIMESTAMP)) / 86400)
                AS BIGINT) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per AS (
  SELECT s.band,
         CAST(COUNT(DISTINCT lat.l_suppkey) AS BIGINT) AS n_suppliers,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(lat.d) AS s,
         CAST(SUM(CASE WHEN lat.d > 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_late
  FROM lat JOIN supp s ON lat.l_suppkey = s.s_suppkey
  WHERE lat.d >= 0
  GROUP BY 1
)
SELECT band, n_suppliers, n_lines,
       ROUND(CAST(s AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS mean_latency,
       ROUND(CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
         AS late_share
FROM per ORDER BY band
""",
        "customer_tenure_value": """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
per AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(cents) AS cents,
         date_diff('day', MIN(d), MAX(d)) AS span
  FROM o GROUP BY 1
),
b AS (
  SELECT CAST(FLOOR(span / 365.0) AS BIGINT) AS tenure_years,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(n_orders) AS BIGINT) AS n_orders, SUM(cents) AS cents
  FROM per GROUP BY 1
)
SELECT tenure_years, n_customers,
       ROUND(CAST(n_orders AS DOUBLE) / CAST(n_customers AS DOUBLE), 6)
         AS avg_orders,
       ROUND(CAST(cents AS DOUBLE)
             / (CAST(n_customers AS DOUBLE) * 100.0), 2)
         AS avg_lifetime_value
FROM b ORDER BY tenure_years
""",
        "order_line_hhi": """
WITH li AS (
  SELECT l_orderkey,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS c
  FROM lineitem
),
per AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(c * c) AS ssq, SUM(c) AS s
  FROM li GROUP BY 1
),
q AS (
  SELECT n_lines,
         CAST(ROUND(CAST(ssq AS DOUBLE) * 1000000.0
                    / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))) AS BIGINT)
           AS hhi_ppm
  FROM per
)
SELECT n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(hhi_ppm) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6) AS mean_hhi
FROM q GROUP BY 1 ORDER BY n_lines
""",
        "stock_cover_days": """
WITH flows AS (
  SELECT l_partkey AS sku, CAST(l_quantity AS BIGINT) AS qty,
         CAST(l_shipdate AS DATE) AS d,
         (l_orderkey % 2 = 0) AS is_receipt
  FROM lineitem
),
horizon AS (
  SELECT CAST(date_diff('day', MIN(d), MAX(d)) + 1 AS BIGINT) AS h
  FROM flows
),
per AS (
  SELECT sku,
         CAST(SUM(CASE WHEN is_receipt THEN qty ELSE 0 END) AS BIGINT)
           AS receipt_qty,
         CAST(SUM(CASE WHEN NOT is_receipt THEN qty ELSE 0 END) AS BIGINT)
           AS issue_qty
  FROM flows GROUP BY 1
)
SELECT sku, receipt_qty, issue_qty,
       receipt_qty - issue_qty AS ending_stock,
       ROUND(CAST(receipt_qty - issue_qty AS DOUBLE) * CAST(h AS DOUBLE)
             / CAST(issue_qty AS DOUBLE), 6) AS cover_days
FROM per CROSS JOIN horizon
WHERE issue_qty > 0
ORDER BY sku
""",
        "shingle_df_profile": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
dfp AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY 1
)
SELECT df, CAST(COUNT(*) AS BIGINT) AS n_shingles
FROM dfp GROUP BY 1 ORDER BY df
""",
        "nation_balance_flow": """
WITH c AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT))
           AS cc
  FROM customer GROUP BY 1
),
s AS (
  SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         SUM(CAST(ROUND(CAST(s_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT))
           AS sc
  FROM supplier GROUP BY 1
)
SELECT n.n_name AS nation,
       CAST(COALESCE(c.n_customers, 0) AS BIGINT) AS n_customers,
       ROUND(CAST(COALESCE(c.cc, 0) AS DOUBLE) / 100.0, 2)
         AS customer_balance,
       CAST(COALESCE(s.n_suppliers, 0) AS BIGINT) AS n_suppliers,
       ROUND(CAST(COALESCE(s.sc, 0) AS DOUBLE) / 100.0, 2)
         AS supplier_balance
FROM nation n
LEFT JOIN c ON n.n_nationkey = c.c_nationkey
LEFT JOIN s ON n.n_nationkey = s.s_nationkey
ORDER BY nation
""",
        "top_customer_per_nation": """
WITH per AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT n.n_name AS nation, c.c_custkey AS custkey, c.c_name AS customer,
         p.n_orders, p.cents,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY p.cents DESC, c.c_custkey ASC) AS rk
  FROM per p
  JOIN customer c ON p.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT nation, custkey, customer, n_orders,
       ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue
FROM ranked WHERE rk = 1 ORDER BY nation
""",
        "event_type_transitions": """
WITH ev AS (
  SELECT user_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
  FROM events
),
pairs AS (
  SELECT prev AS from_type, event_type AS to_type FROM (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id) AS prev
    FROM ev
  ) WHERE prev IS NOT NULL
),
cells AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
         AS row_share
FROM cells ORDER BY from_type, to_type
""",
        "part_supplier_breadth": """
WITH li AS (
  SELECT l_partkey, l_suppkey,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem
),
per AS (
  SELECT l_partkey, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
         SUM(cents) AS cents
  FROM li GROUP BY 1
),
hist AS (
  SELECT n_suppliers, CAST(COUNT(*) AS BIGINT) AS n_parts,
         SUM(cents) AS cents
  FROM per GROUP BY 1
),
tot AS (SELECT SUM(cents) AS tc FROM hist)
SELECT n_suppliers, n_parts,
       ROUND(CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE), 6) AS revenue_share
FROM hist CROSS JOIN tot ORDER BY n_suppliers
""",
        "source_length_percentiles": """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_chars,
       percentile_cont(0.25) WITHIN GROUP (ORDER BY CAST(n_chars AS BIGINT))
         AS p25,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(n_chars AS BIGINT))
         AS p50,
       percentile_cont(0.9) WITHIN GROUP (ORDER BY CAST(n_chars AS BIGINT))
         AS p90
FROM documents GROUP BY source ORDER BY source
""",
        "second_purchase_latency": """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
           AS rn
  FROM orders
),
firsts AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         MIN(CASE WHEN rn = 1 THEN d END) AS d1,
         MIN(CASE WHEN rn = 2 THEN d END) AS d2
  FROM o WHERE rn <= 2 GROUP BY 1
),
lat AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN f.n_orders >= 2 THEN 1 ELSE 0 END AS returned,
         CASE WHEN f.n_orders >= 2 THEN
           CAST(FLOOR(epoch(CAST(f.d2 AS TIMESTAMP)) / 86400) AS BIGINT)
           - CAST(FLOOR(epoch(CAST(f.d1 AS TIMESTAMP)) / 86400) AS BIGINT)
         END AS gap
  FROM firsts f JOIN customer c ON f.o_custkey = c.c_custkey
)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_buyers,
       CAST(SUM(returned) AS BIGINT) AS n_repeat,
       ROUND(CAST(SUM(returned) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS repeat_share,
       ROUND(CAST(SUM(gap) AS DOUBLE) / CAST(SUM(returned) AS DOUBLE), 6)
         AS mean_days_to_second,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY gap)
         AS median_days_to_second
FROM lat GROUP BY segment ORDER BY segment
""",
        "returns_by_discount_band": """
WITH li AS (
  SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS band,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(ret) AS BIGINT) AS n_returned,
       ROUND(CAST(SUM(ret) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS return_share,
       ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) AS revenue
FROM li GROUP BY band ORDER BY band
""",
        "embedding_label_margin": """
WITH ex AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
sizes AS (
  SELECT CAST(label AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS nk
  FROM embeddings GROUP BY 1
),
cent AS (
  SELECT label AS k, dim, SUM(q) AS s FROM ex GROUP BY 1, 2
),
bk AS (SELECT k, SUM(s * s) AS b FROM cent GROUP BY 1),
dots AS (
  SELECT e.vec_id, e.label, c.k, SUM(e.q * c.s) AS a
  FROM ex e JOIN cent c ON e.dim = c.dim
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT d.vec_id, d.label, d.k,
         CAST(bk.b - 2 * sz.nk * d.a AS DOUBLE)
         / CAST(sz.nk * sz.nk AS DOUBLE) AS f
  FROM dots d JOIN bk ON d.k = bk.k JOIN sizes sz ON d.k = sz.k
),
ranked AS (
  SELECT vec_id, label, k, f,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY f, k) AS rn
  FROM scored
),
per AS (
  SELECT vec_id, label,
         CAST(MIN(CASE WHEN rn = 1 THEN k END) AS BIGINT) AS assigned,
         MIN(CASE WHEN rn = 1 THEN f END) AS f1,
         MIN(CASE WHEN rn = 2 THEN f END) AS f2
  FROM ranked WHERE rn <= 2 GROUP BY 1, 2
)
SELECT vec_id, label, assigned,
       ROUND((f2 - f1) / 100000000.0, 6) AS margin
FROM per ORDER BY f2 - f1, vec_id LIMIT 25
""",
        "supplier_cosupply_pairs": """
WITH sp AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
)
SELECT a.s AS supp_a, b.s AS supp_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_parts
FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
GROUP BY 1, 2
ORDER BY n_shared_parts DESC, supp_a, supp_b
LIMIT 25
""",
        "brand_quantity_mode": """
WITH cells AS (
  SELECT p.p_brand AS brand, CAST(l.l_quantity AS BIGINT) AS qty,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT brand, qty, n,
         ROW_NUMBER() OVER (PARTITION BY brand
                            ORDER BY n DESC, qty ASC) AS rn,
         SUM(n) OVER (PARTITION BY brand) AS tot
  FROM cells
)
SELECT brand, qty AS mode_qty, n AS n_lines_at_mode,
       ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS mode_share
FROM ranked WHERE rn = 1 ORDER BY brand
""",
        "sku_seasonality_strength": """
WITH cells AS (
  SELECT l_partkey AS sku, CAST(month(l_shipdate) AS BIGINT) AS mon,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT sku, mon, q,
         ROW_NUMBER() OVER (PARTITION BY sku ORDER BY q DESC, mon ASC) AS rn,
         CAST(SUM(q) OVER (PARTITION BY sku) AS BIGINT) AS tot
  FROM cells
)
SELECT sku, mon AS peak_month, tot AS total_qty,
       ROUND(12.0 * CAST(q AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS strength
FROM ranked WHERE rn = 1 ORDER BY sku
""",
        "customer_dow_habit": """
WITH o AS (
  SELECT o_custkey,
         (CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400)
               AS BIGINT) + 3) % 7 + 1 AS dow
  FROM orders
),
cells AS (
  SELECT o_custkey, dow, CAST(COUNT(*) AS BIGINT) AS n
  FROM o GROUP BY 1, 2
),
modes AS (
  SELECT dow FROM (
    SELECT o_custkey, dow,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY n DESC, dow ASC) AS rn
    FROM cells
  ) WHERE rn = 1
),
hist AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_customers FROM modes GROUP BY 1
),
tot AS (SELECT SUM(n_customers) AS t FROM hist)
SELECT dow AS iso_dow, n_customers,
       ROUND(CAST(n_customers AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM hist CROSS JOIN tot ORDER BY iso_dow
""",
        "session_size_histogram": """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT), 1, 0)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 30*60
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT *, SUM(new_session) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
),
rolled AS (
  SELECT user_id, session_seq,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)
         - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS dur_s
  FROM sess GROUP BY 1, 2
),
hist AS (
  SELECT n_events, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         SUM(dur_s) AS sd
  FROM rolled GROUP BY 1
),
tot AS (SELECT SUM(n_sessions) AS t FROM hist)
SELECT n_events, n_sessions,
       ROUND(CAST(n_sessions AS DOUBLE) / CAST(t AS DOUBLE), 6)
         AS session_share,
       ROUND(CAST(sd AS DOUBLE) / CAST(n_sessions AS DOUBLE), 6)
         AS mean_duration_s
FROM hist CROSS JOIN tot ORDER BY n_events
""",
        "event_type_peak_hour": """
WITH cells AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, hr, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY n DESC, hr ASC) AS rn,
         CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
  FROM cells
)
SELECT event_type, hr AS peak_hour, n AS n_at_peak,
       ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS peak_share
FROM ranked WHERE rn = 1 ORDER BY event_type
""",
        "source_genericness": """
WITH tok AS (
  SELECT source, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                    t -> t <> '')) AS token
  FROM documents
),
gc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
top AS (
  SELECT token, 1 AS is_top FROM gc ORDER BY n DESC, token ASC LIMIT 100
),
per AS (
  SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(COALESCE(tp.is_top, 0)) AS BIGINT) AS n_top
  FROM tok t LEFT JOIN top tp ON t.token = tp.token
  GROUP BY 1
)
SELECT source, n_tokens,
       ROUND(CAST(n_top AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS top100_mass_share
FROM per ORDER BY source
""",
        "embedding_dim_correlations": """
WITH ex AS (
  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
st AS (
  SELECT a.dim AS dim_a, b.dim AS dim_b,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(a.q) AS sa, SUM(b.q) AS sb,
         SUM(a.q * a.q) AS saa, SUM(b.q * b.q) AS sbb,
         SUM(a.q * b.q) AS sab
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim < b.dim
  GROUP BY 1, 2
),
sc AS (
  SELECT dim_a, dim_b,
         CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
         - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) AS c,
         CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) AS vx,
         CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
         - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) AS vy
  FROM st
)
SELECT dim_a, dim_b,
       ROUND(c / (SQRT(vx) * SQRT(vy)), 6) AS r
FROM sc ORDER BY c * c / (vx * vy) DESC, dim_a, dim_b LIMIT 25
""",
        "brand_nation_price_spread": """
WITH cells AS (
  SELECT p.p_brand AS brand, n.n_name AS nation,
         SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS c,
         SUM(CAST(l.l_quantity AS BIGINT)) AS q
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
up AS (
  SELECT brand,
         ROUND(CAST(c AS DOUBLE) / (CAST(q AS DOUBLE) * 100.0), 6)
           AS unit_price
  FROM cells
)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_nations,
       MIN(unit_price) AS min_unit_price,
       MAX(unit_price) AS max_unit_price,
       ROUND(MAX(unit_price) / MIN(unit_price), 6) AS spread_ratio
FROM up GROUP BY brand ORDER BY brand
""",
        "monthly_aov_trend": """
WITH o AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) * 12
         + CAST(month(o_orderdate) AS BIGINT) - 1 AS mi,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
per AS (
  SELECT mi, CAST(COUNT(*) AS BIGINT) AS n_orders, SUM(cents) AS cents
  FROM o GROUP BY 1
)
SELECT CAST(FLOOR(c.mi / 12.0) AS BIGINT) AS year,
       CAST(c.mi % 12 + 1 AS BIGINT) AS month,
       c.n_orders,
       ROUND(CAST(c.cents AS DOUBLE)
             / (CAST(c.n_orders AS DOUBLE) * 100.0), 2) AS aov,
       ROUND(CAST(c.cents AS DOUBLE)
             / (CAST(c.n_orders AS DOUBLE) * 100.0)
             - CAST(p.cents AS DOUBLE)
               / (CAST(p.n_orders AS DOUBLE) * 100.0), 2)
         AS delta_vs_prev
FROM per c LEFT JOIN per p ON c.mi = p.mi + 1
ORDER BY year, month
""",
        "brand_top_supplier_share": """
WITH cells AS (
  SELECT p.p_brand AS brand, l.l_suppkey,
         SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT brand, l_suppkey, c,
         ROW_NUMBER() OVER (PARTITION BY brand
                            ORDER BY c DESC, l_suppkey ASC) AS rn,
         SUM(c) OVER (PARTITION BY brand) AS tot
  FROM cells
)
SELECT brand, l_suppkey AS top_suppkey,
       ROUND(CAST(c AS DOUBLE) / 100.0, 2) AS top_supplier_revenue,
       ROUND(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE), 6)
         AS top_supplier_share
FROM ranked WHERE rn = 1 ORDER BY brand
""",
        "user_activity_deciles": """
WITH ev AS (
  SELECT user_id,
         COALESCE(CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100)
                       AS BIGINT), 0) AS cents
  FROM events
),
per AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(cents) AS cents
  FROM ev GROUP BY 1
),
dec AS (
  SELECT CAST(NTILE(10) OVER (ORDER BY n_events DESC, user_id ASC)
              AS BIGINT) AS decile,
         n_events, cents
  FROM per
),
hist AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(cents) AS cents
  FROM dec GROUP BY 1
),
tot AS (SELECT SUM(n_events) AS te, SUM(cents) AS tc FROM hist)
SELECT decile, n_users,
       ROUND(CAST(n_events AS DOUBLE) / CAST(te AS DOUBLE), 6)
         AS event_share,
       ROUND(CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE), 6) AS value_share
FROM hist CROSS JOIN tot ORDER BY decile
""",
        "nation_rank_trajectory": """
WITH per AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr, n.n_name AS nation,
         SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  JOIN nation n ON cu.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT yr, nation,
         CAST(ROW_NUMBER() OVER (PARTITION BY yr
                                 ORDER BY c DESC, nation ASC) AS BIGINT)
           AS rk,
         ROUND(CAST(c AS DOUBLE) / 100.0, 2) AS revenue
  FROM per
)
SELECT r.yr AS order_year, r.nation, r.rk AS revenue_rank, r.revenue,
       CAST(p.rk - r.rk AS BIGINT) AS rank_gain
FROM ranked r
LEFT JOIN ranked p ON p.yr = r.yr - 1 AND p.nation = r.nation
ORDER BY order_year, revenue_rank
""",
        "brand_backorder_exposure": """
WITH per AS (
  SELECT l_partkey AS sku,
         CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN CAST(l_quantity AS BIGINT)
                       ELSE 0 END)
              - SUM(CASE WHEN l_orderkey % 2 <> 0
                         THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS net
  FROM lineitem GROUP BY 1
)
SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_skus,
       CAST(SUM(CASE WHEN net < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       CAST(SUM(CASE WHEN net < 0 THEN -net ELSE 0 END) AS BIGINT)
         AS units_short,
       ROUND(CAST(SUM(CASE WHEN net < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS short_share
FROM per JOIN part p ON per.sku = p.p_partkey
GROUP BY 1 ORDER BY brand
""",
        "customer_order_regularity": """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders
),
g AS (
  SELECT o_custkey,
         CAST(FLOOR(epoch(CAST(d AS TIMESTAMP)) / 86400) AS BIGINT)
         - LAG(CAST(FLOOR(epoch(CAST(d AS TIMESTAMP)) / 86400) AS BIGINT))
           OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS gap
  FROM o
),
st AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         SUM(gap) AS s, SUM(gap * gap) AS s2
  FROM g WHERE gap IS NOT NULL GROUP BY 1
  HAVING COUNT(*) >= 2
),
per AS (
  SELECT o_custkey,
         CAST(ROUND(SQRT(GREATEST(0.0,
                CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)))
              / CAST(s AS DOUBLE) * 1000000.0) AS BIGINT) AS cv_ppm
  FROM st
)
SELECT c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(cv_ppm) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6) AS mean_gap_cv,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY cv_ppm)
             / 1000000.0, 6) AS median_gap_cv
FROM per JOIN customer c ON per.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY segment
""",
        "label_separation_matrix": """
WITH ex AS (
  SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
cent AS (SELECT label, dim, SUM(q) AS s FROM ex GROUP BY 1, 2),
sizes AS (
  SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS HUGEINT) AS n
  FROM embeddings GROUP BY 1
),
pairs AS (
  SELECT a.label AS la, b.label AS lb,
         SUM((sb_n.n * a.s - sa_n.n * b.s) * (sb_n.n * a.s - sa_n.n * b.s))
           AS num,
         MAX(sa_n.n * sb_n.n) AS nn
  FROM cent a
  JOIN cent b ON a.dim = b.dim AND a.label < b.label
  JOIN sizes sa_n ON a.label = sa_n.label
  JOIN sizes sb_n ON b.label = sb_n.label
  GROUP BY 1, 2
)
SELECT la AS label_a, lb AS label_b,
       ROUND(CAST(num AS DOUBLE)
             / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * 100000000.0), 6)
         AS sq_dist
FROM pairs ORDER BY label_a, label_b
""",
        "order_rank_value_curve": """
WITH ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY CAST(o_orderdate AS DATE),
                                          o_orderkey) AS BIGINT) AS rk,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
)
SELECT rk AS order_rank, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(cents) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 100.0), 2) AS mean_order_value
FROM ranked WHERE rk <= 10
GROUP BY 1 ORDER BY order_rank
""",
        "new_sku_revenue_share": """
WITH li AS (
  SELECT l_partkey AS sku, CAST(year(l_shipdate) AS BIGINT) AS yr,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem
),
first AS (SELECT sku, MIN(yr) AS first_yr FROM li GROUP BY 1),
j AS (
  SELECT li.yr,
         CASE WHEN li.yr = f.first_yr THEN 1 ELSE 0 END AS is_new,
         li.cents
  FROM li JOIN first f ON li.sku = f.sku
),
per AS (
  SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(is_new * cents) AS nc, SUM(cents) AS tc,
         CAST(SUM(is_new) AS BIGINT) AS n_new_lines
  FROM j GROUP BY 1
)
SELECT yr AS ship_year, n_lines, n_new_lines,
       ROUND(CAST(nc AS DOUBLE) / 100.0, 2) AS new_sku_revenue,
       ROUND(CAST(nc AS DOUBLE) / CAST(tc AS DOUBLE), 6) AS new_sku_share
FROM per ORDER BY ship_year
""",
        "order_status_profile": """
WITH cells AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderstatus AS status,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
)
SELECT yr AS order_year, status, n_orders,
       ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
       ROUND(CAST(cents AS DOUBLE) / (CAST(n_orders AS DOUBLE) * 100.0), 2)
         AS mean_order_value,
       ROUND(CAST(n_orders AS DOUBLE)
             / CAST(SUM(n_orders) OVER (PARTITION BY yr) AS DOUBLE), 6)
         AS year_share
FROM cells ORDER BY order_year, status
""",
        "event_value_coverage": """
WITH ev AS (
  SELECT event_type,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(cents) AS BIGINT) AS n_with_value,
       ROUND(CAST(COUNT(*) - COUNT(cents) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS null_share,
       ROUND(CAST(COALESCE(SUM(cents), 0) AS DOUBLE) / 100.0, 2)
         AS sum_value
FROM ev GROUP BY event_type ORDER BY event_type
""",
        "embedding_dim_occupancy": """
WITH ex AS (
  SELECT CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
)
SELECT dim, CAST(COUNT(DISTINCT q) AS BIGINT) AS n_distinct,
       MIN(q) AS min_q, MAX(q) AS max_q
FROM ex GROUP BY dim ORDER BY dim
""",
        "basket_brand_breadth": """
WITH per AS (
  SELECT l.l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(COUNT(DISTINCT p.p_brand) AS BIGINT) AS n_brands
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(n_brands) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_brands
FROM per GROUP BY 1 ORDER BY n_lines
""",
        "customer_brand_breadth": """
WITH per AS (
  SELECT o.o_custkey,
         CAST(COUNT(DISTINCT p.p_brand) AS BIGINT) AS n_brands,
         SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
),
hist AS (
  SELECT n_brands, CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(cents) AS cents
  FROM per GROUP BY 1
),
tot AS (SELECT SUM(cents) AS tc FROM hist)
SELECT n_brands, n_customers,
       ROUND(CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE), 6) AS revenue_share
FROM hist CROSS JOIN tot ORDER BY n_brands
""",
        "order_calendar_coverage": """
WITH active AS (
  SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(o_orderdate AS DATE) AS d
  FROM orders
),
span AS (SELECT yr, MIN(d) AS lo, MAX(d) AS hi FROM active GROUP BY 1),
spine AS (
  SELECT yr, CAST(u.d AS DATE) AS d
  FROM span, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS u(d)
),
flagged AS (
  SELECT s.yr, s.d, CASE WHEN a.d IS NULL THEN 0 ELSE 1 END AS a
  FROM spine s LEFT JOIN active a ON s.yr = a.yr AND s.d = a.d
),
grp AS (
  SELECT yr, d, a,
         SUM(a) OVER (PARTITION BY yr ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS g
  FROM flagged
),
runs AS (
  SELECT yr, g, CAST(COUNT(*) AS BIGINT) AS run
  FROM grp WHERE a = 0 GROUP BY 1, 2
),
streak AS (SELECT yr, CAST(MAX(run) AS BIGINT) AS mx FROM runs GROUP BY 1),
base AS (
  SELECT yr, CAST(SUM(a) AS BIGINT) AS n_active_days,
         CAST(SUM(1 - a) AS BIGINT) AS n_dead_days
  FROM flagged GROUP BY 1
)
SELECT b.yr AS order_year, b.n_active_days, b.n_dead_days,
       CAST(COALESCE(s.mx, 0) AS BIGINT) AS max_dead_streak
FROM base b LEFT JOIN streak s ON b.yr = s.yr
ORDER BY order_year
""",
        "user_entry_exit_matrix": """
WITH ev AS (
  SELECT user_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
  FROM events
),
per AS (
  SELECT user_id,
         MIN(CASE WHEN ra = 1 THEN event_type END) AS entry_type,
         MIN(CASE WHEN rd = 1 THEN event_type END) AS exit_type
  FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY us, event_id) AS ra,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY us DESC, event_id DESC) AS rd
    FROM ev
  ) WHERE ra = 1 OR rd = 1
  GROUP BY 1
),
cells AS (
  SELECT entry_type, exit_type, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM per GROUP BY 1, 2
),
tot AS (SELECT SUM(n_users) AS t FROM cells)
SELECT entry_type, exit_type, n_users,
       ROUND(CAST(n_users AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM cells CROSS JOIN tot ORDER BY entry_type, exit_type
""",
        "inverted_interval_audit": """
WITH j AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400)
              AS BIGINT)
         - CAST(FLOOR(epoch(CAST(o.o_orderdate AS TIMESTAMP)) / 86400)
                AS BIGINT) AS lat
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT yr AS order_year, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN lat < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inverted,
       ROUND(CAST(SUM(CASE WHEN lat < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS inverted_share,
       CAST(GREATEST(-MIN(lat), 0) AS BIGINT) AS worst_inversion_days
FROM j GROUP BY 1 ORDER BY order_year
""",
        "value_priority_matrix": """
WITH dec AS (
  SELECT o_orderpriority AS priority,
         CAST(NTILE(10) OVER (
           ORDER BY CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                         AS BIGINT) DESC, o_orderkey ASC) AS BIGINT)
           AS decile
  FROM orders
),
cells AS (
  SELECT decile, priority, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM dec GROUP BY 1, 2
)
SELECT decile, priority, n_orders,
       ROUND(CAST(n_orders AS DOUBLE)
             / CAST(SUM(n_orders) OVER (PARTITION BY decile) AS DOUBLE), 6)
         AS decile_share
FROM cells ORDER BY decile, priority
""",
        "region_quarter_matrix": """
WITH cells AS (
  SELECT r.r_name AS region, CAST(quarter(o.o_orderdate) AS BIGINT) AS qtr,
         SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  JOIN nation n ON cu.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT region, qtr AS quarter,
       ROUND(CAST(c AS DOUBLE) / 100.0, 2) AS revenue,
       ROUND(CAST(c AS DOUBLE)
             / CAST(SUM(c) OVER (PARTITION BY qtr) AS DOUBLE), 6)
         AS quarter_share
FROM cells ORDER BY region, quarter
""",
        "supplier_return_rate": """
WITH per AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_returned,
         SUM(CASE WHEN l_returnflag = 'R'
                  THEN CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                                  * 100) AS BIGINT)
                  ELSE 0 END) AS rc
  FROM lineitem GROUP BY 1
  HAVING COUNT(*) >= 100
)
SELECT l_suppkey AS suppkey, n_lines, n_returned,
       ROUND(CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
         AS return_share,
       ROUND(CAST(rc AS DOUBLE) / 100.0, 2) AS returned_revenue
FROM per
ORDER BY return_share DESC, suppkey
LIMIT 25
""",
        "dup_rate_by_length": """
WITH docs AS (
  SELECT doc_id, sha256(text) AS h,
         CAST(FLOOR(CAST(n_chars AS BIGINT) / 500.0) AS BIGINT) AS band
  FROM documents
),
sizes AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS k FROM docs GROUP BY 1),
j AS (
  SELECT d.band, CASE WHEN s.k >= 2 THEN 1 ELSE 0 END AS dup
  FROM docs d JOIN sizes s ON d.h = s.h
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dup) AS BIGINT) AS n_dup,
       ROUND(CAST(SUM(dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_share
FROM j GROUP BY 1 ORDER BY band
""",
        "balance_spend_correlation": """
WITH per AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS spend
  FROM orders GROUP BY 1
),
j AS (
  SELECT c.c_mktsegment AS segment,
         CAST(ROUND(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS x,
         COALESCE(p.spend, 0) AS y
  FROM customer c LEFT JOIN per p ON c.c_custkey = p.o_custkey
),
st AS (
  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM j GROUP BY 1
)
SELECT segment, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS r
FROM st ORDER BY segment
""",
        "unit_price_inflation": """
WITH per AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
         SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS c,
         SUM(CAST(l_quantity AS BIGINT)) AS q
  FROM lineitem GROUP BY 1
)
SELECT cur.yr AS ship_year,
       ROUND(CAST(cur.c AS DOUBLE) / (CAST(cur.q AS DOUBLE) * 100.0), 6)
         AS mean_unit_price,
       ROUND((CAST(cur.c AS DOUBLE) / (CAST(cur.q AS DOUBLE) * 100.0))
             / (CAST(p.c AS DOUBLE) / (CAST(p.q AS DOUBLE) * 100.0)), 6)
         AS yoy_ratio
FROM per cur LEFT JOIN per p ON cur.yr = p.yr + 1
ORDER BY ship_year
""",
        "jaccard_band_histogram": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
shared AS (
  SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS shd
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
bands AS (
  SELECT CAST((20 * shd) // (sa.n + sb.n - shd) AS BIGINT) AS band
  FROM shared
  JOIN sz sa ON sa.doc_id = da
  JOIN sz sb ON sb.doc_id = db
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM bands WHERE band >= 4
GROUP BY 1 ORDER BY band
""",
        "brand_type_matrix": """
WITH cells AS (
  SELECT p.p_brand AS brand, p.p_type AS ptype,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
)
SELECT brand, ptype, n_lines,
       ROUND(CAST(c AS DOUBLE) / 100.0, 2) AS revenue,
       ROUND(CAST(c AS DOUBLE)
             / CAST(SUM(c) OVER (PARTITION BY brand) AS DOUBLE), 6)
         AS brand_share
FROM cells ORDER BY brand, ptype
""",
        "name_key_consistency": """
WITH u AS (
  SELECT 'customer' AS table_name,
         CASE WHEN CAST(split_part(c_name, '#', 2) AS BIGINT)
                   <> CAST(c_custkey AS BIGINT) THEN 1 ELSE 0 END AS bad
  FROM customer
  UNION ALL
  SELECT 'supplier' AS table_name,
         CASE WHEN CAST(split_part(s_name, '#', 2) AS BIGINT)
                   <> CAST(s_suppkey AS BIGINT) THEN 1 ELSE 0 END AS bad
  FROM supplier
)
SELECT table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(bad) AS BIGINT) AS n_mismatched
FROM u GROUP BY 1 ORDER BY table_name
""",
        "weekday_latency_profile": """
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_d,
         (CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400)
               AS BIGINT) + 3) % 7 + 1 AS dow
  FROM orders
),
lat AS (
  SELECT o.dow,
         CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400)
              AS BIGINT)
         - CAST(FLOOR(epoch(CAST(o.order_d AS TIMESTAMP)) / 86400)
                AS BIGINT) AS d
  FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
)
SELECT dow AS iso_dow, CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_latency,
       ROUND(CAST(SUM(CASE WHEN d > 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS late_share
FROM lat WHERE d >= 0
GROUP BY 1 ORDER BY iso_dow
""",
        "source_signature_bigram": """
WITH tok AS (
  SELECT source,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
  FROM documents
),
bi AS (
  SELECT source,
         unnest(list_transform(range(2, len(t) + 1), i ->
           concat_ws(' ', t[i-1], t[i]))) AS bigram
  FROM tok WHERE len(t) >= 2
),
cells AS (
  SELECT source, bigram, CAST(COUNT(*) AS BIGINT) AS n
  FROM bi GROUP BY 1, 2
),
ranked AS (
  SELECT source, bigram, n,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n DESC, bigram ASC) AS rn,
         CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS tot
  FROM cells
)
SELECT source, bigram AS signature_bigram, n AS n_occurrences,
       ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS mass_share
FROM ranked WHERE rn = 1 ORDER BY source
""",
        "source_opening_diversity": """
WITH per AS (
  SELECT source,
         (list_filter(regexp_split_to_array(text, '\\s+'),
                      t -> t <> ''))[1] AS first_tok
  FROM documents
  WHERE len(list_filter(regexp_split_to_array(text, '\\s+'),
                        t -> t <> '')) >= 1
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT first_tok) AS BIGINT) AS n_openings,
       ROUND(CAST(COUNT(DISTINCT first_tok) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS opening_diversity
FROM per GROUP BY 1 ORDER BY source
""",
        "label_radius_profile": """
WITH ex AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
cent AS (SELECT label, dim, SUM(q) AS s FROM ex GROUP BY 1, 2),
sizes AS (
  SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS HUGEINT) AS nk
  FROM embeddings GROUP BY 1
),
pv AS (
  SELECT e.vec_id, e.label,
         SUM((sz.nk * e.q - c.s) * (sz.nk * e.q - c.s)) AS num,
         MAX(sz.nk) AS nk
  FROM ex e
  JOIN cent c ON e.label = c.label AND e.dim = c.dim
  JOIN sizes sz ON e.label = sz.label
  GROUP BY 1, 2
),
pl AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         MAX(num) AS mx, SUM(num) AS sm, MAX(nk) AS nk
  FROM pv GROUP BY 1
)
SELECT label, n_vectors,
       ROUND(CAST(mx AS DOUBLE)
             / (CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE) * 100000000.0), 6)
         AS max_sq_dist,
       ROUND(CAST(sm AS DOUBLE)
             / (CAST(n_vectors AS DOUBLE) * CAST(nk AS DOUBLE)
                * CAST(nk AS DOUBLE) * 100000000.0), 6) AS mean_sq_dist
FROM pl ORDER BY label
""",
        "basket_size_trend": """
WITH per AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
)
SELECT c.yr AS order_year, c.n_orders,
       ROUND(CAST(c.n_lines AS DOUBLE) / CAST(c.n_orders AS DOUBLE), 6)
         AS mean_lines_per_order,
       ROUND(CAST(c.n_lines AS DOUBLE) / CAST(c.n_orders AS DOUBLE)
             - CAST(p.n_lines AS DOUBLE) / CAST(p.n_orders AS DOUBLE), 6)
         AS delta_vs_prev
FROM per c LEFT JOIN per p ON c.yr = p.yr + 1
ORDER BY order_year
""",
        "spend_latency_bias": """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS spend
  FROM orders GROUP BY 1
),
dec AS (
  SELECT o_custkey,
         CAST(NTILE(10) OVER (ORDER BY spend DESC, o_custkey ASC)
              AS BIGINT) AS decile
  FROM spend
),
lat AS (
  SELECT o.o_custkey,
         CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400)
              AS BIGINT)
         - CAST(FLOOR(epoch(CAST(o.o_orderdate AS TIMESTAMP)) / 86400)
                AS BIGINT) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT dec.decile, CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(CAST(SUM(lat.d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_latency,
       ROUND(CAST(SUM(CASE WHEN lat.d > 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS late_share
FROM lat JOIN dec ON lat.o_custkey = dec.o_custkey
WHERE lat.d >= 0
GROUP BY 1 ORDER BY decile
""",
        "order_weekend_premium": """
WITH o AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         CASE WHEN (CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP))
                               / 86400) AS BIGINT) + 3) % 7 + 1 >= 6
              THEN 1 ELSE 0 END AS we,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
per AS (
  SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(we) AS BIGINT) AS n_weekend,
         SUM(we * cents) AS wc, SUM((1 - we) * cents) AS dc
  FROM o GROUP BY 1
)
SELECT yr AS order_year, n_orders,
       ROUND(CAST(n_weekend AS DOUBLE) / CAST(n_orders AS DOUBLE), 6)
         AS weekend_share,
       ROUND(CAST(wc AS DOUBLE) / (CAST(n_weekend AS DOUBLE) * 100.0), 2)
         AS weekend_aov,
       ROUND(CAST(dc AS DOUBLE)
             / (CAST(n_orders - n_weekend AS DOUBLE) * 100.0), 2)
         AS weekday_aov,
       ROUND((CAST(wc AS DOUBLE) / (CAST(n_weekend AS DOUBLE) * 100.0))
             / (CAST(dc AS DOUBLE)
                / (CAST(n_orders - n_weekend AS DOUBLE) * 100.0)), 6)
         AS premium_ratio
FROM per ORDER BY order_year
""",
        "dau_anomaly_days": """
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM pairs GROUP BY 1),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(dau AS HUGEINT)) AS s,
         SUM(CAST(dau AS HUGEINT) * dau) AS s2
  FROM dau
)
SELECT d AS day, dau.dau AS dau,
       ROUND(CAST(dau.dau AS DOUBLE)
             - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE), 6)
         AS delta_vs_mean,
       CASE WHEN (st.n * dau.dau - st.s) * (st.n * dau.dau - st.s)
                 > 4 * (st.n * st.s2 - st.s * st.s)
            THEN 1 ELSE 0 END AS is_anomaly
FROM dau CROSS JOIN st ORDER BY day
""",
        "event_type_user_overlap": """
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM tu GROUP BY 1
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM tu a JOIN tu b ON a.user_id = b.user_id
  WHERE a.event_type <> b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, i.n_both,
       ROUND(CAST(i.n_both AS DOUBLE) / CAST(s.n_users AS DOUBLE), 6)
         AS containment
FROM inter i JOIN sizes s ON i.type_a = s.event_type
ORDER BY type_a, type_b
""",
        "annual_customer_retention": """
WITH yc AS (
  SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr, o_custkey
  FROM orders
),
per AS (
  SELECT a.yr,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CASE WHEN b.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained
  FROM yc a
  LEFT JOIN yc b ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
  GROUP BY 1
),
mx AS (SELECT MAX(yr) AS last_yr FROM per)
SELECT yr AS order_year, n_customers, n_retained,
       ROUND(CAST(n_retained AS DOUBLE) / CAST(n_customers AS DOUBLE), 6)
         AS retention_rate
FROM per CROSS JOIN mx WHERE yr < last_yr
ORDER BY order_year
""",
        "sku_price_drift_mix": """
WITH li AS (
  SELECT l_partkey AS sku, CAST(l_shipdate AS DATE) AS d,
         l_orderkey, l_linenumber,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS c,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
),
rk AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY sku
                            ORDER BY d, l_orderkey, l_linenumber) AS ra,
         ROW_NUMBER() OVER (PARTITION BY sku
                            ORDER BY d DESC, l_orderkey DESC,
                                     l_linenumber DESC) AS rd
  FROM li
),
ends AS (
  SELECT sku, CAST(COUNT(*) AS BIGINT) AS n_ends,
         MIN(CASE WHEN ra = 1 THEN c END) AS c1,
         MIN(CASE WHEN ra = 1 THEN q END) AS q1,
         MIN(CASE WHEN rd = 1 THEN c END) AS c2,
         MIN(CASE WHEN rd = 1 THEN q END) AS q2
  FROM rk WHERE ra = 1 OR rd = 1
  GROUP BY 1 HAVING COUNT(*) = 2
),
drift AS (
  SELECT sku,
         CASE WHEN CAST(c2 AS HUGEINT) * q1 > CAST(c1 AS HUGEINT) * q2
                THEN 1
              WHEN CAST(c2 AS HUGEINT) * q1 < CAST(c1 AS HUGEINT) * q2
                THEN -1
              ELSE 0 END AS dir
  FROM ends
)
SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_skus,
       CAST(SUM(CASE WHEN dir = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       CAST(SUM(CASE WHEN dir = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
       CAST(SUM(CASE WHEN dir = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flat
FROM drift JOIN part p ON drift.sku = p.p_partkey
GROUP BY 1 ORDER BY brand
""",
        "embedding_exact_dups": """
WITH qvec AS (
  SELECT vec_id,
         list_transform(embedding,
                        v -> CAST(ROUND(CAST(v AS DOUBLE) * 10000)
                                  AS BIGINT)) AS qv
  FROM embeddings
),
groups AS (
  SELECT qv, CAST(COUNT(*) AS BIGINT) AS k FROM qvec GROUP BY 1
)
SELECT k AS group_size, CAST(COUNT(*) AS BIGINT) AS n_groups
FROM groups GROUP BY 1 ORDER BY group_size
""",
        "repeated_part_lines_audit": """
WITH per AS (
  SELECT l_orderkey, l_partkey, CAST(COUNT(*) AS BIGINT) AS k
  FROM lineitem GROUP BY 1, 2
),
po AS (
  SELECT l_orderkey, MAX(k) AS mx,
         CAST(SUM(CASE WHEN k >= 2 THEN k ELSE 0 END) AS BIGINT)
           AS dup_lines
  FROM per GROUP BY 1
)
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN po.mx >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_repeats,
       ROUND(CAST(SUM(CASE WHEN po.mx >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS repeat_share,
       CAST(SUM(po.dup_lines) AS BIGINT) AS n_dup_lines
FROM po JOIN orders o ON po.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY order_year
""",
        "hourly_value_profile": """
WITH ev AS (
  SELECT CAST(hour(ts) AS BIGINT) AS hr,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events
)
SELECT hr AS hour, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(cents) AS BIGINT) AS n_valued,
       ROUND(CAST(SUM(cents) AS DOUBLE)
             / (CAST(COUNT(cents) AS DOUBLE) * 100.0), 6) AS mean_value
FROM ev GROUP BY 1 ORDER BY hour
""",
        "priority_value_profile": """
WITH per AS (
  SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS c
  FROM orders GROUP BY 1
),
tot AS (SELECT SUM(c) AS tc FROM per)
SELECT priority, n_orders,
       ROUND(CAST(c AS DOUBLE) / (CAST(n_orders AS DOUBLE) * 100.0), 2)
         AS mean_order_value,
       ROUND(CAST(c AS DOUBLE) / CAST(tc AS DOUBLE), 6) AS revenue_share
FROM per CROSS JOIN tot ORDER BY priority
""",
        "brand_demand_acf": """
WITH li AS (
  SELECT l_partkey AS sku,
         CAST(FLOOR(CAST(FLOOR(epoch(CAST(l_shipdate AS TIMESTAMP))
                               / 86400) AS BIGINT) / 7.0) AS BIGINT) AS wk,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
weekly AS (
  SELECT sku, wk, CAST(SUM(qty) AS BIGINT) AS q FROM li GROUP BY 1, 2
),
pairs AS (
  SELECT a.sku, a.q AS x, b.q AS y
  FROM weekly a JOIN weekly b ON a.sku = b.sku AND b.wk = a.wk + 1
),
st AS (
  SELECT p.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM pairs JOIN part p ON pairs.sku = p.p_partkey
  GROUP BY 1
)
SELECT brand, n_pairs,
       ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(GREATEST(0.0,
                              CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * SQRT(GREATEST(0.0,
                                CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))),
             6) AS acf1
FROM st ORDER BY brand
""",
        "customer_entry_brand_loyalty": """
WITH base AS (
  SELECT o.o_custkey, p.p_brand AS brand,
         CAST(l.l_shipdate AS DATE) AS d, l.l_orderkey, l.l_linenumber,
         CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
              AS BIGINT) AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
),
flagged AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY d, l_orderkey, l_linenumber) AS rn
  FROM base
),
first AS (
  SELECT o_custkey, brand AS first_brand FROM flagged WHERE rn = 1
),
per AS (
  SELECT f.o_custkey,
         SUM(CASE WHEN f.brand = fi.first_brand THEN f.cents ELSE 0 END)
           AS fb,
         SUM(f.cents) AS tc
  FROM flagged f JOIN first fi ON f.o_custkey = fi.o_custkey
  GROUP BY 1
),
q AS (
  SELECT o_custkey,
         CAST(ROUND(CAST(fb AS DOUBLE) * 1000000.0 / CAST(tc AS DOUBLE))
              AS BIGINT) AS ppm
  FROM per
)
SELECT c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(ppm) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6)
         AS mean_entry_brand_share
FROM q JOIN customer c ON q.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY segment
""",
        "market_share": """
SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_1'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS mkt_share
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
JOIN region r   ON n1.n_regionkey = r.r_regionkey
JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
WHERE r.r_name = 'AMERICA'
  AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
ORDER BY o_year
""",
        "image_dims": """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
       CAST(doc_id % 61 + 4 AS INT) AS width,
       CAST((doc_id * 13) % 47 + 4 AS INT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 24 END AS INT) AS bit_depth
FROM documents
ORDER BY doc_id
""",
        "decontaminated_split": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
dirty AS (
  SELECT DISTINCT c.doc_id
  FROM ex b JOIN ex c ON b.shingle = c.shingle
  WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
  GROUP BY b.doc_id, c.doc_id
  HAVING COUNT(*) >= 2
),
clean AS (
  SELECT d.doc_id FROM documents d
  WHERE d.doc_id % 97 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
),
b2 AS (
  SELECT CAST(list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS STRING)), CAST(i AS INT), 1)) - 1)
           * power(16, 8 - i))) AS BIGINT) % 10 AS bucket
  FROM clean
)
SELECT CASE WHEN bucket < 8 THEN 'train'
            WHEN bucket = 8 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM b2 GROUP BY 1
ORDER BY split
""",
        "table_profile": """
SELECT 'o_orderkey' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderkey) AS STRING) AS min_v,
       CAST(MAX(o_orderkey) AS STRING) AS max_v
FROM orders
UNION ALL
SELECT 'o_custkey' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_custkey) AS STRING) AS min_v,
       CAST(MAX(o_custkey) AS STRING) AS max_v
FROM orders
UNION ALL
SELECT 'o_orderdate' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderdate) AS STRING) AS min_v,
       CAST(MAX(o_orderdate) AS STRING) AS max_v
FROM orders
UNION ALL
SELECT 'o_orderpriority' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderpriority) AS STRING) AS min_v,
       CAST(MAX(o_orderpriority) AS STRING) AS max_v
FROM orders
UNION ALL
SELECT 'o_orderstatus' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderstatus) AS STRING) AS min_v,
       CAST(MAX(o_orderstatus) AS STRING) AS max_v
FROM orders
UNION ALL
SELECT 'o_totalprice' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS min_v,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS max_v
FROM orders
ORDER BY col
""",
        "sku_sale_gaps": """
WITH sales AS (
  SELECT CAST(l_partkey AS STRING) AS sku, CAST(l_shipdate AS DATE) AS sale_date
  FROM lineitem WHERE l_partkey % 100 = 0
),
daily AS (SELECT DISTINCT sku, sale_date FROM sales),
gaps AS (
  SELECT sku,
         CAST((FLOOR(epoch(CAST(sale_date AS TIMESTAMP)))
               - FLOOR(epoch(CAST(lag(sale_date) OVER (
                   PARTITION BY sku ORDER BY sale_date) AS TIMESTAMP)))) / 86400
              AS BIGINT) AS gap_days
  FROM daily
)
SELECT sku, CAST(MAX(gap_days) AS INT) AS max_gap,
       ROUND(AVG(gap_days), 4) AS mean_gap
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY sku
ORDER BY sku
""",
        "weekly_retention": """
WITH wk AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
)
SELECT a.week AS week,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users,
       CAST(COUNT(DISTINCT CASE WHEN b.user_id IS NOT NULL THEN a.user_id END)
            AS BIGINT) AS retained_next_week
FROM wk a LEFT JOIN wk b
  ON a.user_id = b.user_id AND b.week = a.week + INTERVAL 7 DAY
GROUP BY 1
ORDER BY week
""",
        "segment_top_percentile": """
SELECT c_mktsegment, c_custkey,
       ROUND(percent_rank() OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey), 4) AS pr
FROM customer
QUALIFY pr >= 0.99
ORDER BY c_mktsegment, c_custkey
""",
        "priority_class_lines": """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
        "order_priority_check": """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
        "disjunctive_revenue": """
SELECT CAST(COUNT(*) AS BIGINT) AS matched_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
        "supplier_variety": """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#12'
  AND p.p_type NOT LIKE 'MEDIUM%'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
""",
        # the oracle repeats the deterministic PII injection, so the
        # detect/redact regexes are verified end to end
        "pii_scan": """
WITH salted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN concat(text, ' contact user', CAST(doc_id AS TEXT),
                          '@example.com now')
              ELSE text END AS t1
  FROM documents
),
salted2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0
              THEN concat(t1, ' call 555-', CAST(1000 + doc_id % 9000 AS TEXT))
              ELSE t1 END AS text
  FROM salted
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS INT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '555-[0-9]{4}')) AS INT) AS n_phones,
       CAST(length(regexp_replace(regexp_replace(text,
              '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
              '555-[0-9]{4}', '<PHONE>', 'g')) AS INT) AS clean_len
FROM salted2
WHERE doc_id % 7 = 0 OR doc_id % 11 = 0
ORDER BY doc_id
""",
        "mixture_weights": """
WITH per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM per_lang),
w AS (
  SELECT lang, n_docs,
         CAST(ROUND(sqrt(n_docs / n_total), 6) AS DECIMAL(18,6)) AS w
  FROM per_lang CROSS JOIN tot
),
ws AS (SELECT SUM(w) AS w_total FROM w)
SELECT lang, n_docs,
       ROUND(CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE), 4) AS sample_weight
FROM w CROSS JOIN ws
ORDER BY lang
""",
        "quality_flags": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
stats AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS INT) AS sum_len
  FROM tok
)
SELECT doc_id, n_tokens,
       (n_tokens >= 15 AND n_tokens <= 60) AS len_ok,
       (sum_len >= 3 * n_tokens AND sum_len <= 8 * n_tokens) AS wordlen_ok,
       (2 * n_distinct >= n_tokens) AS rep_ok
FROM stats
WHERE NOT ((n_tokens >= 15 AND n_tokens <= 60)
           AND (sum_len >= 3 * n_tokens AND sum_len <= 8 * n_tokens)
           AND (2 * n_distinct >= n_tokens))
ORDER BY doc_id
""",
        "user_journey": """
WITH ranked AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
),
per_user AS (
  SELECT user_id,
         MAX(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
         MAX(CASE WHEN rn_d = 1 THEN event_type END) AS last_type
  FROM ranked GROUP BY user_id
)
SELECT first_type, last_type, CAST(COUNT(*) AS BIGINT) AS n_users
FROM per_user
GROUP BY first_type, last_type
ORDER BY first_type, last_type
""",
        "sku_sales_anomaly": """
WITH monthly AS (
  SELECT l_partkey,
         CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
),
stats AS (
  SELECT l_partkey, month, qty,
         COUNT(qty) OVER w AS n,
         SUM(qty) OVER w AS s,
         SUM(qty * qty) OVER w AS ss
  FROM monthly
  WINDOW w AS (PARTITION BY l_partkey ORDER BY month
               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT l_partkey, month, qty,
       CAST(n AS BIGINT) AS trail_n,
       ROUND(s / n, 2) AS trail_mean
FROM stats
WHERE n >= 4
  AND ss * n - s * s > 0
  AND (qty * n - s) * (qty * n - s) * (n - 1) >= 4 * n * (ss * n - s * s)
ORDER BY l_partkey, month
""",
        "bigram_counts": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
bg AS (
  SELECT unnest(list_transform(range(1, len(toks) - 2 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1]))) AS bigram
  FROM tok WHERE len(toks) >= 2
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM bg GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 25
""",
        # embedding-space contamination: semantic sibling of the shingle
        # scan; bench side tiny (vec_id % 97 == 0) and broadcast
        "embed_contamination": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT b.vec_id AS bench_vec, c.vec_id AS corpus_vec,
       ROUND(list_cosine_similarity(b.v, c.v), 4) AS cos_sim
FROM e b JOIN e c ON b.vec_id % 97 = 0 AND c.vec_id % 97 <> 0
WHERE ROUND(list_cosine_similarity(b.v, c.v), 4) >= 0.35
""",
        "key_skew_profile": """
WITH per_key AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM per_key
)
SELECT p.user_id, p.n,
       CAST(p.n AS DOUBLE) / t.total AS share,
       CAST(p.n AS DOUBLE) * t.n_keys / t.total AS skew_ratio
FROM per_key p CROSS JOIN tot t
ORDER BY p.n DESC, p.user_id ASC
LIMIT 10
""",
        # full recompute: associativity makes the incremental merge the
        # exact same answer, so any partial-merge bug hash-mismatches
        "incremental_hourly_merge": """
SELECT date_trunc('hour', ts) AS bucket_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
        # unigram-LM scoring: the oracle joins on raw token strings; the
        # Spark plan joins on xxhash64(token), so any hash collision or
        # hashing bug surfaces as a value-hash mismatch
        "lm_score": """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
           AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
),
vocab AS (SELECT token, SUM(tf) AS n_tok FROM tf GROUP BY token),
total AS (SELECT SUM(n_tok) AS n_total FROM vocab),
per_doc AS (
  SELECT f.doc_id,
         CAST(SUM(f.tf) AS BIGINT) AS n_tokens,
         CAST(CAST(SUM(f.tf * v.n_tok) AS DECIMAL(38,0)) AS BIGINT) AS corpus_token_hits
  FROM tf f JOIN vocab v USING (token)
  GROUP BY f.doc_id
)
SELECT p.doc_id, p.n_tokens, p.corpus_token_hits,
       ROUND(CAST(p.corpus_token_hits AS DOUBLE) / p.n_tokens / t.n_total, 6)
         AS lm_score
FROM per_doc p CROSS JOIN total t
""",
        # hashed variant must reproduce the exact string-shingle result:
        # same oracle, so a 64-bit fold collision or hashing bug fails the
        # value-hash compare rather than passing silently
        "contamination_hashed": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
SELECT b.doc_id AS bench_doc, c.doc_id AS corpus_doc,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM ex b JOIN ex c ON b.shingle = c.shingle
WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY bench_doc, corpus_doc
""",
        "contamination_check": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
SELECT b.doc_id AS bench_doc, c.doc_id AS corpus_doc,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM ex b JOIN ex c ON b.shingle = c.shingle
WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY bench_doc, corpus_doc
""",
        "doc_repetition": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
tg AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS tris
  FROM tok WHERE len(toks) >= 3
)
SELECT doc_id,
       CAST(len(tris) AS INT) AS n_trigrams,
       CAST(len(list_distinct(tris)) AS INT) AS n_distinct,
       ROUND(1 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris), 4)
         AS repetition
FROM tg
ORDER BY repetition DESC, doc_id ASC
LIMIT 25
""",
        "nation_profit": """
SELECT n.n_name AS nation,
       CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                - CAST(0.60 AS DECIMAL(3,2))
                  * CAST(p.p_retailprice AS DECIMAL(12,2))
                  * CAST(l.l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
        "stage_sales": _FIXTURE_CTES
        + """
SELECT CAST(p.d AS DATE) AS date_key, s.sku,
       CAST(SUM(s.quantity) AS BIGINT) AS total_quantity_sold
FROM sales s CROSS JOIN params p
WHERE s.sale_date = p.d
GROUP BY s.sku, p.d
""",
        "dim_products": _FIXTURE_CTES + "SELECT sku, product_name, category FROM dim",
        "reconcile": _FIXTURE_CTES + "SELECT * FROM reconciled",
        # the reference-shaped 3-join plan must agree with the fused plan
        "reconcile_snapshots": _FIXTURE_CTES + "SELECT * FROM reconciled",
        "discrepancy_count": _FIXTURE_CTES
        + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_discrepancies
FROM reconciled WHERE discrepancy_amount <> 0
""",
        "discrepancy_topk": _FIXTURE_CTES
        + """
SELECT * FROM reconciled WHERE discrepancy_amount <> 0
ORDER BY ABS(discrepancy_amount) DESC, sku ASC
LIMIT 5
""",
        "partition_prune": _FIXTURE_CTES
        + """
SELECT s.sale_date,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(s.quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM sales s CROSS JOIN params p
WHERE s.sale_date = p.d
GROUP BY s.sale_date
""",
        "normalize_clean": """
SELECT UPPER(TRIM(CAST(p_partkey AS STRING))) AS sku,
       TRIM(p_name) AS product_name,
       UPPER(TRIM(p_type)) AS category_norm,
       CAST(p_size AS INT) AS p_size
FROM part
""",
        "stock_timeseries": """
WITH sales AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_quantity AS INT)    AS quantity,
         CAST(l_shipdate AS DATE)   AS sale_date
  FROM lineitem
),
daily AS (
  SELECT sku, sale_date, CAST(SUM(quantity) AS BIGINT) AS day_qty
  FROM sales
  WHERE CAST(sku AS INT) % 50 = 0
  GROUP BY sku, sale_date
),
ledger AS (
  SELECT d.sku, d.sale_date, d.day_qty,
         CAST(pt.p_size * 100
              - SUM(d.day_qty) OVER (
                  PARTITION BY d.sku ORDER BY d.sale_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) AS closing_stock
  FROM daily d
  JOIN part pt ON CAST(pt.p_partkey AS STRING) = d.sku
)
SELECT sku, sale_date, day_qty, closing_stock,
       CAST(LAG(closing_stock) OVER (PARTITION BY sku ORDER BY sale_date) AS BIGINT)
         AS opening_stock
FROM ledger
""",
        # --- general OLAP ------------------------------------------------
        # Money: accumulate DECIMAL(18,2) (exact, order-independent), cast
        # the finished aggregate to DOUBLE -- identical in both engines.
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(CAST(l_quantity AS INT)) AS DOUBLE) / COUNT(*), 4) AS avg_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
        "top_customers": """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey ASC
LIMIT 10
""",
        "region_revenue": """
SELECT r_name AS region_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
""",
        "parts_above_brand_avg": """
WITH priced AS (
  SELECT p_partkey, p_brand,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc,
         SUM(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           OVER (PARTITION BY p_brand) AS sum_c,
         COUNT(*) OVER (PARTITION BY p_brand) AS n_c
  FROM part
)
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_above_avg,
       CAST(MAX(pc * n_c - sum_c) AS BIGINT) AS max_excess_scaled
FROM priced
WHERE pc * n_c > sum_c
GROUP BY p_brand
""",
        "sales_grouping_sets": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""",
        "nation_trade_volume": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(YEAR(l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey  = s.s_suppkey
JOIN customer c ON o.o_custkey  = c.c_custkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name < n2.n_name
GROUP BY 1, 2, 3
""",
        "events_hour_of_day": """
SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
       CAST(isodow(ts) AS BIGINT) AS day_of_week,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
""",
        "dedup_applied": """
WITH RECURSIVE tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
pairs AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id
  FROM reach GROUP BY a
),
losers AS (SELECT doc_id FROM comp WHERE doc_id <> canonical_id)
SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs_kept
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM losers x WHERE x.doc_id = d.doc_id)
GROUP BY d.lang
""",
        "revenue_forecast": """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS forecast_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
        "shipping_priority": """
SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate >= TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
        "customer_spend_quartiles": """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
  FROM orders GROUP BY o_custkey
),
q AS (
  SELECT o_custkey, total_spent,
         CAST(NTILE(4) OVER (ORDER BY total_spent DESC, o_custkey ASC) AS BIGINT)
           AS quartile
  FROM spend
)
SELECT quartile, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(total_spent), 2) AS quartile_spend
FROM q GROUP BY quartile
""",
        # --- events ------------------------------------------------------
        "events_hourly": """
SELECT date_trunc('hour', ts) AS bucket_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
        "events_sessionize": """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT), 1, 0)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 30*60
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT *, SUM(new_session) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, session_seq
""",
        "events_json": """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
        "events_daily_from_hourly": """
SELECT CAST(ts AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY 1, 2
""",
        "events_sessionize_native": """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT), 1, 0)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 30*60
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT *, SUM(new_session) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, session_seq
""",
        # ANSI percentile_cont (same interpolated quantile as DuckDB
        # quantile_cont) -- parses verbatim on Spark too (r8 rewrite)
        "event_value_percentiles": """
SELECT event_type,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4) AS p50,
       ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 4) AS p95,
       ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 4) AS p99
FROM events
GROUP BY event_type
""",
        "daily_active_users": """
SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
""",
        "signup_purchase_funnel": """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
)
SELECT CAST((FLOOR(epoch(CAST(CAST(first_purchase AS DATE) AS TIMESTAMP)))
             - FLOOR(epoch(CAST(CAST(first_signup AS DATE) AS TIMESTAMP)))) / 86400
            AS INT) AS lag_days,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM firsts
WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
  AND first_purchase > first_signup
GROUP BY 1
""",
        "stock_asof": """
WITH sales AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_quantity AS INT)    AS quantity,
         CAST(l_shipdate AS DATE)   AS sale_date
  FROM lineitem
),
daily AS (
  SELECT sku, sale_date, CAST(SUM(quantity) AS BIGINT) AS day_qty
  FROM sales WHERE CAST(sku AS INT) % 50 = 0
  GROUP BY sku, sale_date
),
ledger AS (
  SELECT d.sku, d.sale_date,
         CAST(pt.p_size * 100
              - SUM(d.day_qty) OVER (
                  PARTITION BY d.sku ORDER BY d.sale_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) AS stock
  FROM daily d
  JOIN part pt ON CAST(pt.p_partkey AS STRING) = d.sku
),
checks AS (
  SELECT sku, sale_date AS check_date, stock AS checked_stock
  FROM ledger WHERE day(sale_date) % 7 = 1
)
SELECT d.sku, d.sale_date, d.day_qty, c.check_date, c.checked_stock
FROM daily d ASOF LEFT JOIN checks c
  ON d.sku = c.sku AND d.sale_date >= c.check_date
""",
        # running z-score anomalies in exact integer arithmetic (HUGEINT
        # mirror of the Spark DECIMAL(38,0) squared-form test)
        "value_anomalies": """
WITH e AS (
  SELECT event_type, ts, event_id, value,
         CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events
),
st AS (
  SELECT event_type, ts, event_id, value, c,
         COUNT(c) OVER w AS n_prior,
         COALESCE(SUM(c) OVER w, 0) AS sum_prior,
         COALESCE(SUM(CAST(c AS HUGEINT) * c) OVER w, 0) AS sumsq_prior
  FROM e
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_type, ts, event_id, value,
       CAST(n_prior AS BIGINT) AS n_prior,
       CAST(sum_prior AS BIGINT) AS sum_prior
FROM st
WHERE n_prior >= 10
  AND CAST(c * n_prior - sum_prior AS HUGEINT)
      * CAST(c * n_prior - sum_prior AS HUGEINT)
      > 9 * (CAST(n_prior AS HUGEINT) * sumsq_prior
             - CAST(sum_prior AS HUGEINT) * sum_prior)
""",
        # tolerance-bounded as-of: stale matches (check older than 7
        # days) are nulled, the left row survives
        "stock_asof_tolerant": """
WITH sales AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_quantity AS INT)    AS quantity,
         CAST(l_shipdate AS DATE)   AS sale_date
  FROM lineitem
),
daily AS (
  SELECT sku, sale_date, CAST(SUM(quantity) AS BIGINT) AS day_qty
  FROM sales WHERE CAST(sku AS INT) % 50 = 0
  GROUP BY sku, sale_date
),
ledger AS (
  SELECT d.sku, d.sale_date,
         CAST(pt.p_size * 100
              - SUM(d.day_qty) OVER (
                  PARTITION BY d.sku ORDER BY d.sale_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) AS stock
  FROM daily d
  JOIN part pt ON CAST(pt.p_partkey AS STRING) = d.sku
),
checks AS (
  SELECT sku, sale_date AS check_date, stock AS checked_stock
  FROM ledger WHERE day(sale_date) % 7 = 1
),
matched AS (
  SELECT d.sku, d.sale_date, d.day_qty, c.check_date, c.checked_stock
  FROM daily d ASOF LEFT JOIN checks c
    ON d.sku = c.sku AND d.sale_date >= c.check_date
)
SELECT sku, sale_date, day_qty,
       CASE WHEN check_date >= sale_date - INTERVAL 7 DAY
            THEN check_date ELSE NULL END AS check_date,
       CASE WHEN check_date >= sale_date - INTERVAL 7 DAY
            THEN checked_stock ELSE NULL END AS checked_stock
FROM matched
""",
        # forward as-of: nearest check at-or-AFTER each sale (DuckDB
        # ASOF with the <= pairing), nulled when >7 days out
        "stock_asof_forward": """
WITH sales AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_quantity AS INT)    AS quantity,
         CAST(l_shipdate AS DATE)   AS sale_date
  FROM lineitem
),
daily AS (
  SELECT sku, sale_date, CAST(SUM(quantity) AS BIGINT) AS day_qty
  FROM sales WHERE CAST(sku AS INT) % 50 = 0
  GROUP BY sku, sale_date
),
ledger AS (
  SELECT d.sku, d.sale_date,
         CAST(pt.p_size * 100
              - SUM(d.day_qty) OVER (
                  PARTITION BY d.sku ORDER BY d.sale_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) AS stock
  FROM daily d
  JOIN part pt ON CAST(pt.p_partkey AS STRING) = d.sku
),
checks AS (
  SELECT sku, sale_date AS check_date, stock AS checked_stock
  FROM ledger WHERE day(sale_date) % 7 = 1
),
matched AS (
  SELECT d.sku, d.sale_date, d.day_qty, c.check_date, c.checked_stock
  FROM daily d ASOF LEFT JOIN checks c
    ON d.sku = c.sku AND d.sale_date <= c.check_date
)
SELECT sku, sale_date, day_qty,
       CASE WHEN check_date <= sale_date + INTERVAL 7 DAY
            THEN check_date ELSE NULL END AS check_date,
       CASE WHEN check_date <= sale_date + INTERVAL 7 DAY
            THEN checked_stock ELSE NULL END AS checked_stock
FROM matched
""",
        "orders_in_promos": """
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
),
promos AS (
  SELECT DISTINCT CAST(date_trunc('week', order_date) AS DATE) AS promo_start
  FROM o
),
p2 AS (
  SELECT promo_start, promo_start + INTERVAL 1 DAY AS promo_end FROM promos
)
SELECT p2.promo_start,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o.price) AS DOUBLE) AS promo_revenue
FROM o JOIN p2
  ON o.order_date BETWEEN p2.promo_start AND p2.promo_end
GROUP BY 1
""",
        "sku_sales_salted": """
SELECT CAST(l_partkey AS STRING) AS sku,
       CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS total_qty
FROM lineitem
GROUP BY 1
""",
        "top_part_per_brand": """
WITH rev AS (
  SELECT l_partkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT p.p_brand, p.p_partkey, ROUND(r.revenue, 2) AS revenue,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY p.p_brand ORDER BY r.revenue DESC, p.p_partkey ASC
         ) AS BIGINT) AS rk
  FROM rev r JOIN part p ON r.l_partkey = p.p_partkey
)
SELECT p_brand, p_partkey, revenue, rk FROM ranked WHERE rk <= 3
""",
        # --- text analysis / dedup ---------------------------------------
        "text_stats": """
WITH tok AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_computed,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
       CAST(len(list_filter(toks, t -> t IN
            ('the','a','and','of','to','is','in','it'))) AS BIGINT) AS n_stopwords,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
         AS n_bpe_tokens,
       ROUND(
         0.5 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
         + 0.3 * LEAST(1.0, 4.0 * (CAST(len(list_filter(toks, t -> t IN
              ('the','a','and','of','to','is','in','it'))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)))
         + 0.2 * (CASE WHEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                            / CAST(len(toks) AS DOUBLE) BETWEEN 3.0 AND 10.0
                  THEN 1.0 ELSE 0.0 END), 4) AS quality_score
FROM tok
""",
        "lang_rollup": """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars
FROM documents
GROUP BY lang
""",
        "langid": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sc AS (
  SELECT doc_id,
         len(list_filter(toks, t -> t IN ('the','and','is','of','a'))) AS s_en,
         len(list_filter(toks, t -> t IN ('der','die','und','das','ist'))) AS s_de,
         len(list_filter(toks, t -> t IN ('le','la','et','les','est'))) AS s_fr,
         len(list_filter(toks, t -> t IN ('el','la','los','es','que'))) AS s_es
  FROM tok
)
SELECT doc_id,
       CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM sc
""",
        "dedup_exact": """
WITH h AS (SELECT doc_id, sha256(text) AS fingerprint FROM documents),
g AS (
  SELECT doc_id, fingerprint,
         ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY fingerprint) AS n_dups
  FROM h
)
SELECT doc_id, fingerprint, CAST(n_dups AS BIGINT) AS n_dups
FROM g WHERE rn = 1
""",
        # per-source quality drift: decimal-exact sums, one double divide
        "source_quality_drift": """
WITH tok AS (
  SELECT source,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
q AS (
  SELECT source,
         CAST(ROUND(
           0.5 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
           + 0.3 * LEAST(1.0, 4.0 * (CAST(len(list_filter(toks, t -> t IN
                ('the','a','and','of','to','is','in','it'))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE)))
           + 0.2 * (CASE WHEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                              / CAST(len(toks) AS DOUBLE) BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.0 END), 4) AS DECIMAL(8,4)) AS qd
  FROM tok
),
per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, SUM(qd) AS sum_q
  FROM q GROUP BY source
),
tot AS (SELECT SUM(sum_q) AS g_sum, SUM(n_docs) AS g_n FROM per_source)
SELECT p.source, p.n_docs,
       ROUND(CAST(p.sum_q AS DOUBLE) / p.n_docs, 6) AS avg_quality,
       ROUND(CAST(p.sum_q AS DOUBLE) / p.n_docs
             - CAST(t.g_sum AS DOUBLE) / t.g_n, 6) AS drift,
       ABS(CAST(p.sum_q AS DOUBLE) / p.n_docs
           - CAST(t.g_sum AS DOUBLE) / t.g_n) > 0.05 AS flagged
FROM per_source p CROSS JOIN tot t
""",
        # canonicalization-aware dedup: lower+whitespace-collapsed form
        "dedup_canonical": """
WITH c AS (
  SELECT doc_id,
         sha256(text) AS raw_fp,
         sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS fingerprint
  FROM documents
)
SELECT fingerprint,
       MIN(doc_id) AS kept_doc,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(DISTINCT raw_fp) AS BIGINT) AS n_raw_variants
FROM c GROUP BY 1
""",
        "doc_chunks": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
c AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(toks), 64), s -> struct_pack(
           idx := CAST(s // 64 AS INT),
           txt := array_to_string(list_slice(toks, CAST(s + 1 AS BIGINT),
                                             CAST(s + 128 AS BIGINT)), ' '),
           n := CAST(len(list_slice(toks, CAST(s + 1 AS BIGINT),
                                    CAST(s + 128 AS BIGINT))) AS BIGINT)
         ))) AS ch
  FROM tok WHERE len(toks) > 0
)
SELECT doc_id, ch.idx AS chunk_idx, ch.txt AS chunk_text, ch.n AS n_tokens
FROM c
""",
        "simhash": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
t AS (SELECT doc_id, unnest(toks) AS tk FROM tok),
h AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef', substr(md5(tk), CAST(i AS INT), 1)) - 1)
           * power(16, 8 - i))) AS BIGINT) AS hv_hi,
         CAST(list_sum(list_transform(range(9, 17), i ->
           (strpos('0123456789abcdef', substr(md5(tk), CAST(i AS INT), 1)) - 1)
           * power(16, 16 - i))) AS BIGINT) AS hv_lo
  FROM t
),
bits AS (
  SELECT doc_id, unnest(range(0, 64)) AS i, hv_hi, hv_lo FROM h
),
votes AS (
  SELECT doc_id, i,
         SUM(CASE WHEN ((CASE WHEN i < 32 THEN hv_lo ELSE hv_hi END)
                  // CAST(power(2, i % 32) AS BIGINT)) % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM bits GROUP BY doc_id, i
),
halves AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 AND i < 32
                       THEN CAST(power(2, i) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS sig_lo,
         CAST(SUM(CASE WHEN s > 0 AND i >= 32
                       THEN CAST(power(2, i - 32) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS sig_hi
  FROM votes GROUP BY doc_id
)
SELECT doc_id,
       CAST(CASE WHEN sig_hi >= 2147483648
                 THEN (sig_hi - 4294967296) * 4294967296 + sig_lo
                 ELSE sig_hi * 4294967296 + sig_lo END AS BIGINT) AS simhash
FROM halves
""",
        "simhash_neardup": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
t AS (SELECT doc_id, unnest(toks) AS tk FROM tok),
h AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef', substr(md5(tk), CAST(i AS INT), 1)) - 1)
           * power(16, 8 - i))) AS BIGINT) AS hv_hi,
         CAST(list_sum(list_transform(range(9, 17), i ->
           (strpos('0123456789abcdef', substr(md5(tk), CAST(i AS INT), 1)) - 1)
           * power(16, 16 - i))) AS BIGINT) AS hv_lo
  FROM t
),
bits AS (
  SELECT doc_id, unnest(range(0, 64)) AS i, hv_hi, hv_lo FROM h
),
votes AS (
  SELECT doc_id, i,
         SUM(CASE WHEN ((CASE WHEN i < 32 THEN hv_lo ELSE hv_hi END)
                  // CAST(power(2, i % 32) AS BIGINT)) % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM bits GROUP BY doc_id, i
),
halves AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 AND i < 32
                       THEN CAST(power(2, i) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS sig_lo,
         CAST(SUM(CASE WHEN s > 0 AND i >= 32
                       THEN CAST(power(2, i - 32) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS sig_hi
  FROM votes GROUP BY doc_id
),
sh AS (
  SELECT doc_id,
         CAST(CASE WHEN sig_hi >= 2147483648
                   THEN (sig_hi - 4294967296) * 4294967296 + sig_lo
                   ELSE sig_hi * 4294967296 + sig_lo END AS BIGINT) AS simhash
  FROM halves
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
        "jaccard_pairs": _ORACLE_JACCARD_PAIRS,
        "top_tokens": """
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
           AS token
  FROM documents
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM tok GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
""",
        "corpus_filter": """
WITH tok AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id,
         CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
              WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
              WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
              WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
              ELSE 'es' END AS lang_pred,
         quality, n_tokens
  FROM (
    SELECT doc_id,
           len(list_filter(toks, t -> t IN ('the','and','is','of','a'))) AS s_en,
           len(list_filter(toks, t -> t IN ('der','die','und','das','ist'))) AS s_de,
           len(list_filter(toks, t -> t IN ('le','la','et','les','est'))) AS s_fr,
           len(list_filter(toks, t -> t IN ('el','la','los','es','que'))) AS s_es,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(
             0.5 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
             + 0.3 * LEAST(1.0, 4.0 * (CAST(len(list_filter(toks, t -> t IN
                  ('the','a','and','of','to','is','in','it'))) AS DOUBLE)
                  / CAST(len(toks) AS DOUBLE)))
             + 0.2 * (CASE WHEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                                / CAST(len(toks) AS DOUBLE) BETWEEN 3.0 AND 10.0
                      THEN 1.0 ELSE 0.0 END), 4) AS quality
    FROM tok
  )
)
SELECT lang_pred,
       (quality >= 0.5 AND n_tokens BETWEEN 20 AND 2000) AS keep,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(quality), 4) AS avg_quality
FROM scored
GROUP BY 1, 2
""",
        "doclen_histogram": """
SELECT CAST(FLOOR(length(text) / 500) * 500 AS BIGINT) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1
""",
        "dedup_groups": """
WITH RECURSIVE tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
pairs AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id
  FROM reach GROUP BY a
),
sizes AS (SELECT canonical_id, COUNT(*) AS group_size FROM comp GROUP BY 1)
SELECT c.doc_id, c.canonical_id, CAST(s.group_size AS BIGINT) AS group_size
FROM comp c JOIN sizes s ON c.canonical_id = s.canonical_id
""",
        # quality-aware canonical keep: dedup_groups' transitive closure
        # joined to corpus_filter's quality expression, best-per-group
        "dedup_keep_best": """
WITH RECURSIVE tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
pairs AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id
  FROM reach GROUP BY a
),
sizes AS (SELECT canonical_id, COUNT(*) AS group_size FROM comp GROUP BY 1),
q AS (
  SELECT doc_id,
         ROUND(
           0.5 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
           + 0.3 * LEAST(1.0, 4.0 * (CAST(len(list_filter(toks, t -> t IN
                ('the','a','and','of','to','is','in','it'))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE)))
           + 0.2 * (CASE WHEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                              / CAST(len(toks) AS DOUBLE) BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.0 END), 4) AS kept_quality
  FROM tok
),
ranked AS (
  SELECT c.canonical_id, c.doc_id, q.kept_quality, s.group_size,
         ROW_NUMBER() OVER (
           PARTITION BY c.canonical_id
           ORDER BY q.kept_quality DESC, c.doc_id ASC
         ) AS rn
  FROM comp c
  JOIN sizes s ON s.canonical_id = c.canonical_id
  JOIN q ON q.doc_id = c.doc_id
  WHERE s.group_size >= 2
)
SELECT canonical_id, doc_id AS kept_doc, kept_quality,
       CAST(group_size - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1
""",
        "multimodal_features": """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1))
                 ELSE -1 END AS INT) AS first_byte,
       CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c)))
            % 2147483647 AS BIGINT) AS byte_checksum
FROM documents
""",
        # --- similarity search -------------------------------------------
        "sim_topk": _SIM_TOPK_SQL,
        "embed_neardup": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.45
""",
        "rolling_fingerprint": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
th AS (
  SELECT doc_id,
         list_transform(toks, t ->
           CAST(list_sum(list_transform(range(1, 9), i ->
             (strpos('0123456789abcdef', substr(md5(t), CAST(i AS INT), 1)) - 1)
             * power(16, 8 - i))) AS BIGINT)) AS hashes
  FROM tok
)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT), hashes),
         (acc, x) -> (acc * 31 + x) % 2147483647
       ) AS fingerprint_rk
FROM th
""",
        # --- OLAP breadth --------------------------------------------------
        "sku_moving_avg": """
WITH sales AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_quantity AS INT)    AS quantity,
         CAST(l_shipdate AS DATE)   AS sale_date
  FROM lineitem
),
daily AS (
  SELECT sku, sale_date, CAST(SUM(quantity) AS BIGINT) AS day_qty
  FROM sales WHERE CAST(sku AS INT) % 50 = 0
  GROUP BY sku, sale_date
)
SELECT sku, sale_date, day_qty,
       ROUND(AVG(day_qty) OVER (
         PARTITION BY sku ORDER BY sale_date
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7,
       CAST(ROW_NUMBER() OVER (PARTITION BY sku ORDER BY sale_date) AS BIGINT)
         AS day_rank
FROM daily
""",
        "sku_rolling_range": """
WITH sales AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_quantity AS INT)    AS quantity,
         CAST(l_shipdate AS DATE)   AS sale_date
  FROM lineitem
),
daily AS (
  SELECT sku, sale_date, CAST(SUM(quantity) AS BIGINT) AS day_qty
  FROM sales WHERE CAST(sku AS INT) % 50 = 0
  GROUP BY sku, sale_date
)
SELECT sku, sale_date, day_qty,
       CAST(SUM(day_qty) OVER (
         PARTITION BY sku ORDER BY sale_date
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS qty_7d
FROM daily
""",
        "sole_late_supplier": """
WITH lx AS (
  SELECT l_orderkey, l_suppkey, l_shipdate,
         MAX(l_shipdate) OVER (PARTITION BY l_orderkey) AS max_ship
  FROM lineitem
),
cand AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lx WHERE l_shipdate = max_ship
)
SELECT c.l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_orders_blamed
FROM cand c
WHERE EXISTS (
    SELECT 1 FROM lineitem o
    WHERE o.l_orderkey = c.l_orderkey AND o.l_suppkey <> c.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lx a
    WHERE a.l_orderkey = c.l_orderkey AND a.l_suppkey <> c.l_suppkey
      AND a.l_shipdate = a.max_ship
  )
GROUP BY c.l_suppkey
""",
        "idle_rich_customers": """
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
  FROM customer
),
stats AS (
  SELECT SUM(bal_c) AS sum_c, COUNT(*) AS n_c FROM cust WHERE bal_c > 0
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(bal_c) AS BIGINT) AS total_bal_scaled
FROM cust c CROSS JOIN stats
WHERE bal_c * n_c > sum_c
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND YEAR(o.o_orderdate) = 1998
  )
GROUP BY c_nationkey
""",
        "order_count_distribution": """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND YEAR(o.o_orderdate) = 1998
  GROUP BY c.c_custkey
)
SELECT CAST(n_orders AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM per_cust
GROUP BY n_orders
""",
        "dim_scd2": """
WITH dd AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS d FROM lineitem),
p AS (
  SELECT CAST(p_partkey AS STRING) AS sku,
         TRIM(p_type)  AS cat_old,
         CASE WHEN p_partkey % 5 = 0 THEN TRIM(p_brand) ELSE TRIM(p_type) END
           AS cat_new
  FROM part
)
SELECT sku, cat_old AS category,
       CAST((SELECT d FROM dd) - 1 AS DATE) AS valid_from,
       CASE WHEN cat_old <> cat_new THEN (SELECT d FROM dd) END AS valid_to,
       cat_old = cat_new AS is_current
FROM p
UNION ALL
SELECT sku, cat_new, (SELECT d FROM dd), NULL, TRUE
FROM p WHERE cat_old <> cat_new
""",
        "sales_rollup": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
        "sales_cube": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
        "cust_no_orders": """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= DATE '1998-01-01')
GROUP BY c_mktsegment
""",
        "parts_ordered_semi": """
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
GROUP BY p_brand
""",
        "customer_setops": """
WITH early AS (SELECT o_custkey FROM orders WHERE o_orderdate < DATE '1998-01-01'),
late  AS (SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '1998-01-01')
SELECT 'both' AS cohort,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late)
UNION ALL
SELECT 'early_only', CAST(COUNT(*) AS BIGINT)
FROM (SELECT o_custkey FROM early EXCEPT SELECT o_custkey FROM late)
UNION ALL
SELECT 'late_only', CAST(COUNT(*) AS BIGINT)
FROM (SELECT o_custkey FROM late EXCEPT SELECT o_custkey FROM early)
""",
        "returnflag_pivot": """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS INT) END) AS BIGINT) AS "A",
       CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS INT) END) AS BIGINT) AS "N",
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS INT) END) AS BIGINT) AS "R"
FROM lineitem
GROUP BY l_linestatus
""",
        "label_centroid_sim": """
WITH e AS (
  SELECT label,
         unnest(CAST(embedding AS DOUBLE[])) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
cent AS (
  SELECT label, pos, SUM(v) / COUNT(*) AS m FROM e GROUP BY label, pos
),
c2 AS (SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY label),
ref AS (SELECT centroid AS rc FROM c2 WHERE label = 0)
SELECT label, ROUND(list_cosine_similarity(centroid, rc), 4) AS centroid_cos
FROM c2 CROSS JOIN ref
""",
        "min_cost_supplier": """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
cand AS (
  SELECT ps.l_partkey, p.p_brand, eu.s_name, eu.n_name, eu.s_acctbal, ps.cost
  FROM ps
  JOIN eu ON ps.l_suppkey = eu.s_suppkey
  JOIN part p ON ps.l_partkey = p.p_partkey
  WHERE p.p_size <= 10
),
mn AS (SELECT l_partkey, MIN(cost) AS min_cost FROM cand GROUP BY l_partkey)
SELECT c.l_partkey AS p_partkey, c.p_brand, c.s_name, c.n_name, c.s_acctbal,
       CAST(c.cost AS DOUBLE) AS cost
FROM cand c JOIN mn ON c.l_partkey = mn.l_partkey AND c.cost = mn.min_cost
""",
        "important_part_values": """
WITH asian AS (
  SELECT s_suppkey FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
),
v AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM asian)
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS part_value
FROM v
WHERE value * 1000 > (SELECT SUM(value) FROM v)
""",
        "top_revenue_supplier": """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
        "bulk_red_shippers": """
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > 300
)
""",
        "source_quota_sample": """
WITH kept AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
         ) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS quota_rank
FROM kept WHERE rk <= 50
""",
        "corpus_pack": """
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_end
  FROM t
)
SELECT doc_id, lang, n_tokens,
       CAST((cum_end - n_tokens) // 512 AS BIGINT) AS bin_id,
       CAST((cum_end - n_tokens) % 512 AS BIGINT) AS bin_offset
FROM c
""",
        "dataset_split": """
WITH b AS (
  SELECT CAST(list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS STRING)), CAST(i AS INT), 1)) - 1)
           * power(16, 8 - i))) AS BIGINT) % 10 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 8 THEN 'train'
            WHEN bucket = 8 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM b GROUP BY 1
""",
        "bm25_search": """
WITH lens AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avg_dl FROM lens
),
tf AS (
  SELECT doc_id, tk AS term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                              x -> x <> '')) AS tk
    FROM documents
  )
  WHERE tk IN ('table', 'spark', 'merge')
  GROUP BY doc_id, tk
),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (tf.tf * (1.2 + 1)) /
             (tf.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avg_dl)),
           8) AS DECIMAL(18,8)) AS part_score
  FROM tf
  JOIN dfreq d ON tf.term = d.term
  JOIN lens l ON tf.doc_id = l.doc_id
  CROSS JOIN stats s
)
SELECT doc_id, ROUND(CAST(SUM(part_score) AS DOUBLE), 4) AS bm25
FROM contrib GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
""",
        "small_qty_revenue": """
WITH a AS (
  SELECT l_partkey, SUM(l_quantity) AS s, COUNT(*) AS c
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7
         AS avg_yearly
FROM lineitem l
JOIN a ON l.l_partkey = a.l_partkey
WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
  AND 2 * l.l_quantity * a.c < a.s
""",
        "large_volume_customers": """
WITH big AS (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 300
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       CAST(o.o_orderdate AS DATE) AS order_date,
       o.o_totalprice,
       CAST(b.total_qty AS DOUBLE) AS total_qty
FROM orders o
JOIN big b ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
""",
        "hybrid_rank": """
WITH ref AS (
  SELECT CAST(embedding AS DOUBLE[]) AS rv FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT vec_id,
         ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), rv), 4)
           AS cos_sim
  FROM embeddings CROSS JOIN ref
),
q AS (
  SELECT doc_id,
         ROUND(
           0.5 * LEAST(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
           + 0.3 * LEAST(1.0, 4.0 * (CAST(len(list_filter(toks, t -> t IN
                ('the','a','and','of','to','is','in','it'))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE)))
           + 0.2 * (CASE WHEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                              / CAST(len(toks) AS DOUBLE) BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.0 END), 4) AS quality
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
    FROM documents
  )
)
SELECT q.doc_id, q.quality, s.cos_sim,
       ROUND(q.quality * s.cos_sim, 4) AS hybrid_score
FROM q JOIN scored s ON q.doc_id = s.vec_id
ORDER BY hybrid_score DESC, doc_id ASC
LIMIT 10
""",
        "local_supplier_revenue": """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
                AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""",
        "returned_item_customers": """
WITH lost AS (
  SELECT o.o_custkey,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS lost_revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1997-01-01'
    AND o.o_orderdate < TIMESTAMP '1997-04-01'
  GROUP BY o.o_custkey
)
SELECT c.c_custkey, c.c_name, c.c_acctbal, lost.lost_revenue
FROM lost JOIN customer c ON lost.o_custkey = c.c_custkey
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
""",
        "promo_revenue_share": """
SELECT 100.0
       * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                       THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
  AND l.l_shipdate < TIMESTAMP '1997-04-01'
""",
        # time-weighted average stock: integer level x holding-days
        # sums, one rounded terminal division; last (open-ended)
        # observation excluded on both sides
        "stock_twa": """
WITH sales AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_quantity AS INT)    AS quantity,
         CAST(l_shipdate AS DATE)   AS sale_date
  FROM lineitem
),
daily AS (
  SELECT sku, sale_date, CAST(SUM(quantity) AS BIGINT) AS day_qty
  FROM sales WHERE CAST(sku AS INT) % 50 = 0
  GROUP BY sku, sale_date
),
ledger AS (
  SELECT d.sku, d.sale_date,
         CAST(pt.p_size * 100
              - SUM(d.day_qty) OVER (
                  PARTITION BY d.sku ORDER BY d.sale_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) AS stock
  FROM daily d
  JOIN part pt ON CAST(pt.p_partkey AS STRING) = d.sku
),
held AS (
  SELECT sku, stock,
         CAST((FLOOR(epoch(CAST(LEAD(sale_date) OVER (
                 PARTITION BY sku ORDER BY sale_date) AS TIMESTAMP)))
               - FLOOR(epoch(CAST(sale_date AS TIMESTAMP)))) / 86400
              AS BIGINT) AS held_days
  FROM ledger
)
SELECT sku,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(held_days) AS BIGINT) AS total_days,
       ROUND(CAST(SUM(stock * held_days) AS DOUBLE) / SUM(held_days), 6)
         AS twa_stock
FROM held
WHERE held_days IS NOT NULL
GROUP BY sku
""",
        # market-basket pair counting: each unordered pair once via the
        # a<b tiebreak; ties in the top-k broken by (part_a, part_b)
        "copurchase_pairs": """
WITH pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM pairs
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b
LIMIT 25
""",
        # blocked fuzzy matching: block on (brand, first word), verify
        # with exact levenshtein -- same metric in both engines
        "name_match_candidates": """
WITH p AS (
  SELECT p_partkey, p_brand, p_name, split_part(p_name, ' ', 1) AS w1
  FROM part
)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM p a
JOIN p b ON a.p_brand = b.p_brand AND a.w1 = b.w1
        AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 4
ORDER BY id_a, id_b
""",
        # BPE-ish token budget: escape-free alternation with disjoint
        # charsets so Java and RE2 tokenize identically
        "token_budget": """
WITH t AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))
              AS BIGINT) AS nt,
         CAST(LENGTH(text) AS BIGINT) AS nc
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT)  AS n_tokens,
       ROUND(CAST(SUM(nt) AS BIGINT) / COUNT(*), 6)               AS tokens_per_doc,
       ROUND(CAST(SUM(nt) AS BIGINT) / CAST(SUM(nc) AS BIGINT), 6) AS tokens_per_char
FROM t
GROUP BY source
""",
        # schema-evolution read: DuckDB's union_by_name is the oracle
        # for Spark's mergeSchema -- v1 files NULL-fill unit_price and
        # the derived revenue must propagate the NULL
        "evolving_schema": f"""
SELECT sku, qty, unit_price, qty * unit_price AS revenue
FROM read_parquet('{_EVOLVING_DIR}/*.parquet', union_by_name=true)
""",
        # time travel: the oracle names v1's file list directly, so a
        # commit-resolution bug (wrong files, leaked v2 rows after the
        # overwrite) hash-mismatches
        "table_time_travel": f"""
SELECT sku,
       CAST(SUM(qty) AS BIGINT) AS qty_total,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM read_parquet(['{_VERSIONED_DIR}/data/d0.parquet',
                   '{_VERSIONED_DIR}/data/d1.parquet'])
GROUP BY sku
""",
        # CDF between pinned versions: full-row anti-joins both ways,
        # mirrored as NOT EXISTS over each version's known files
        "table_cdf": f"""
WITH old AS (SELECT sku, qty FROM read_parquet(
        ['{_VERSIONED_DIR}/data/d0.parquet',
         '{_VERSIONED_DIR}/data/d1.parquet'])),
     new AS (SELECT sku, qty FROM read_parquet(
        ['{_VERSIONED_DIR}/data/d2.parquet']))
SELECT sku, qty, 'insert' AS _change FROM new n
WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.sku = n.sku AND o.qty = n.qty)
UNION ALL
SELECT sku, qty, 'delete' AS _change FROM old o
WHERE NOT EXISTS (SELECT 1 FROM new n WHERE n.sku = o.sku AND n.qty = o.qty)
""",
        # commit-log audit over the same JSON bytes read_versioned
        # resolves
        "table_history": f"""
SELECT CAST(version AS BIGINT) AS version,
       CAST(parent AS BIGINT) AS parent,
       mode,
       CAST(len(files) AS BIGINT) AS n_files
FROM read_json_auto('{_VERSIONED_DIR}/commits/v*.json')
""",
        # DML-triad history read: each version's aggregate over its
        # KNOWN file list, independent of the commit log the engine
        # resolves -- resurrection/leak/splice bugs all hash-mismatch
        "table_after_dml": f"""
SELECT CAST(0 AS BIGINT) AS version, 'append' AS mode,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(qty) AS BIGINT) AS qty_total
FROM read_parquet(['{_DML_DIR}/data/f0.parquet',
                   '{_DML_DIR}/data/f1.parquet'])
UNION ALL
SELECT CAST(1 AS BIGINT), 'delete',
       CAST(COUNT(*) AS BIGINT), CAST(SUM(qty) AS BIGINT)
FROM read_parquet(['{_DML_DIR}/data/f0.parquet',
                   '{_DML_DIR}/data/f1d.parquet'])
UNION ALL
SELECT CAST(2 AS BIGINT), 'update',
       CAST(COUNT(*) AS BIGINT), CAST(SUM(qty) AS BIGINT)
FROM read_parquet(['{_DML_DIR}/data/f1d.parquet',
                   '{_DML_DIR}/data/f0u.parquet'])
UNION ALL
SELECT CAST(3 AS BIGINT), 'merge',
       CAST(COUNT(*) AS BIGINT), CAST(SUM(qty) AS BIGINT)
FROM read_parquet(['{_DML_DIR}/data/f1d.parquet',
                   '{_DML_DIR}/data/m0.parquet'])
ORDER BY version
""",
        # global running-share window: the oracle runs the single
        # SUM() OVER (ORDER BY) form; the engine's banded segmentation
        # must reproduce it exactly (all-decimal until the terminal
        # double division)
        "abc_classification": """
WITH per_sku AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
  FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(revenue) AS total FROM per_sku),
c AS (
  SELECT sku, revenue,
         SUM(revenue) OVER (ORDER BY revenue DESC, sku
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM per_sku
)
SELECT c.sku,
       CAST(c.revenue AS DOUBLE) AS revenue,
       ROUND(CAST(c.cum AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS cum_share,
       CASE WHEN CAST(c.cum AS DOUBLE) / CAST(t.total AS DOUBLE) <= 0.80 THEN 'A'
            WHEN CAST(c.cum AS DOUBLE) / CAST(t.total AS DOUBLE) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c CROSS JOIN tot t
""",
        # safety stock from exact integer sufficient statistics: the
        # variance is the integer rational (n*SS - S^2)/(n*(n-1)); one
        # terminal double conversion before sqrt on both sides
        "reorder_points": """
WITH daily AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_shipdate AS DATE) AS sale_day,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
  FROM lineitem GROUP BY 1, 2
),
stats AS (
  SELECT sku,
         CAST(COUNT(*) AS BIGINT)              AS n,
         CAST(SUM(d) AS DECIMAL(38,0))         AS s,
         CAST(SUM(d * d) AS DECIMAL(38,0))     AS ss
  FROM daily GROUP BY sku
)
SELECT sku,
       n AS n_days,
       ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_daily,
       ROUND(SQRT(CAST(CAST(n AS DECIMAL(38,0)) * ss - s * s AS DOUBLE)
                  / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE)),
             6) AS std_daily,
       ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 7
             + 1.65 * SQRT(CAST(CAST(n AS DECIMAL(38,0)) * ss - s * s AS DOUBLE)
                           / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))
               * SQRT(7.0),
             4) AS reorder_point
FROM stats
WHERE n >= 2
ORDER BY sku
""",
        # gaps-and-islands SCD2: island id = running sum of the LAG
        # change flag; valid_to = LEAD over the collapsed islands
        "user_state_history": """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE user_id % 20 = 0
),
flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(event_type) OVER w IS NULL
                   OR event_type <> LAG(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
grp AS (
  SELECT user_id, ts, event_type,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM flagged
),
island AS (
  SELECT user_id, g, event_type AS state,
         MIN(ts) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM grp GROUP BY user_id, g, event_type
)
SELECT user_id, state, valid_from,
       -- g breaks valid_from ties (two same-ts events of different
       -- types make two islands sharing a valid_from)
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, g)
         AS valid_to,
       n_events
FROM island
ORDER BY user_id, valid_from, state
""",
        # two-axis inventory grid: the ABC window share crossed with
        # the weekly-demand coefficient of variation (exact stats)
        "abc_xyz_matrix": """
WITH per_sku AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
  FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(revenue) AS total FROM per_sku),
abc AS (
  SELECT sku,
         CASE WHEN CAST(SUM(revenue) OVER (ORDER BY revenue DESC, sku
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
              / CAST(t.total AS DOUBLE) <= 0.80 THEN 'A'
              WHEN CAST(SUM(revenue) OVER (ORDER BY revenue DESC, sku
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
              / CAST(t.total AS DOUBLE) <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM per_sku CROSS JOIN tot t
),
weekly AS (
  -- epoch-based day difference (shared dialect: Spark needs datediff's
  -- unit unquoted, DuckDB quoted -- whole-day deltas in double are exact)
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(FLOOR((epoch(CAST(l_shipdate AS DATE))
                     - epoch(DATE '1992-01-01')) / 604800) AS BIGINT) AS wk,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
  FROM lineitem GROUP BY 1, 2
),
stats AS (
  SELECT sku,
         CAST(COUNT(*) AS BIGINT)          AS n,
         CAST(SUM(d) AS DECIMAL(38,0))     AS s,
         CAST(SUM(d * d) AS DECIMAL(38,0)) AS ss
  FROM weekly GROUP BY sku
),
xyz AS (
  SELECT sku,
         CASE WHEN n < 2 THEN 'Z'
              WHEN SQRT(CAST(CAST(n AS DECIMAL(38,0)) * ss - s * s AS DOUBLE)
                        / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))
                   / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) <= 0.5 THEN 'X'
              WHEN SQRT(CAST(CAST(n AS DECIMAL(38,0)) * ss - s * s AS DOUBLE)
                        / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))
                   / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) <= 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM stats
)
SELECT a.abc_class, x.xyz_class, CAST(COUNT(*) AS BIGINT) AS n_skus
FROM abc a JOIN xyz x USING (sku)
GROUP BY a.abc_class, x.xyz_class
ORDER BY a.abc_class, x.xyz_class
""",
        # Morton key: the binary-magic-numbers spread ladder written
        # out stage by stage -- an independent SQL spelling of the
        # engine's zvalue16 bit interleave
        "zorder_curve": """
WITH base AS (
  SELECT l_orderkey,
         CAST(l_linenumber AS BIGINT) AS l_linenumber,
         (l_partkey & 65535) AS x0,
         (CAST(l_quantity AS BIGINT) & 65535) AS y0
  FROM lineitem
),
s1 AS (SELECT l_orderkey, l_linenumber,
              ((x0 | (x0 << 8)) & 16711935) AS x1,
              ((y0 | (y0 << 8)) & 16711935) AS y1 FROM base),
s2 AS (SELECT l_orderkey, l_linenumber,
              ((x1 | (x1 << 4)) & 252645135) AS x2,
              ((y1 | (y1 << 4)) & 252645135) AS y2 FROM s1),
s3 AS (SELECT l_orderkey, l_linenumber,
              ((x2 | (x2 << 2)) & 858993459) AS x3,
              ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2),
s4 AS (SELECT l_orderkey, l_linenumber,
              ((x3 | (x3 << 1)) & 1431655765) AS x4,
              ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3)
SELECT l_orderkey, l_linenumber, (x4 | (y4 << 1)) AS zval
FROM s4
ORDER BY zval, l_orderkey, l_linenumber
LIMIT 100
""",
        # the declarative spelling of the engine's iterative
        # transitive-closure loop: a native recursive CTE walks each
        # part to its decimal-hierarchy root
        "part_hierarchy_rollup": """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS p, p_partkey AS cur FROM part
  UNION ALL
  SELECT p, CAST(FLOOR(cur / 10) AS BIGINT) FROM anc WHERE cur >= 10
),
roots AS (
  SELECT p, cur AS root,
         CAST(LENGTH(CAST(p AS STRING)) - 1 AS BIGINT) AS depth
  FROM anc WHERE cur < 10
)
SELECT r.root,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(MAX(r.depth) AS BIGINT) AS max_depth,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM lineitem l JOIN roots r ON l.l_partkey = r.p
GROUP BY r.root
ORDER BY r.root
""",
        # calendar-spine densification + forward fill (last_value
        # IGNORE NULLS over the sku-local window)
        "stock_gap_fill": """
WITH li AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_shipdate AS DATE) AS day,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
  WHERE l_partkey % 500 = 0 AND year(l_shipdate) = 1995
),
daily AS (
  SELECT sku, day, CAST(SUM(qty) AS BIGINT) AS qty
  FROM li GROUP BY 1, 2
),
spine AS (
  SELECT CAST(gs AS DATE) AS day
  FROM generate_series(DATE '1995-01-01', DATE '1995-12-31',
                       INTERVAL 1 DAY) t(gs)
),
dense AS (
  SELECT s.sku, sp.day
  FROM (SELECT DISTINCT sku FROM daily) s CROSS JOIN spine sp
)
SELECT d.sku, d.day,
       (dl.qty IS NOT NULL) AS observed,
       LAST_VALUE(dl.qty IGNORE NULLS)
         OVER (PARTITION BY d.sku ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS qty_filled
FROM dense d
LEFT JOIN daily dl ON d.sku = dl.sku AND d.day = dl.day
ORDER BY d.sku, d.day
""",
        # per-brand OLS from exact integer sufficient statistics, in
        # the shared dialect: sums re-narrowed to DECIMAL(18,0) so
        # every product stays inside DuckDB's width-38 decimal cap
        # (the Spark DataFrame plan's DECIMAL(38,0) values are equal
        # integers); one terminal rounded double division per
        # coefficient
        "brand_trend": """
WITH li AS (
  SELECT l_partkey,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate) - 1
              AS BIGINT) AS x
  FROM lineitem
),
monthly AS (
  SELECT p.p_brand AS brand, li.x, CAST(SUM(li.qty) AS BIGINT) AS y
  FROM li JOIN part p ON li.l_partkey = p.p_partkey
  GROUP BY p.p_brand, li.x
),
stats AS (
  SELECT brand,
         CAST(COUNT(*) AS BIGINT)                   AS n,
         CAST(SUM(x) AS DECIMAL(18,0))              AS sx,
         CAST(SUM(y) AS DECIMAL(18,0))              AS sy,
         CAST(SUM(x * x) AS DECIMAL(18,0))          AS sxx,
         CAST(SUM(x * y) AS DECIMAL(18,0))          AS sxy
  FROM monthly
  GROUP BY brand
)
SELECT brand,
       n AS n_months,
       ROUND(CAST(CAST(n AS DECIMAL(18,0)) * sxy - sx * sy AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(18,0)) * sxx - sx * sx AS DOUBLE),
             6) AS slope,
       ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(18,0)) * sxx - sx * sx AS DOUBLE),
             6) AS intercept
FROM stats
WHERE n >= 2
ORDER BY brand
""",
        # winsorized stats from the exact cents histogram: 20x the
        # type-7 quantile is pure BIGINT ((20-r)*c[i] + r*c[i+1]), so
        # no float threshold is ever compared against data
        "winsorized_stats": """
WITH hist AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events
  GROUP BY event_type, CAST(ROUND(value * 100) AS BIGINT)
),
cum AS (
  SELECT event_type, c, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM hist
),
tot AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
  FROM hist GROUP BY event_type
),
idx AS (
  SELECT event_type, n,
         CAST(FLOOR((n - 1) * 1  / 20.0) AS BIGINT) AS i05,
         CAST(FLOOR((n - 1) * 19 / 20.0) AS BIGINT) AS i95
  FROM tot
),
th AS (
  SELECT cum.event_type, idx.n,
         (idx.n - 1) * 1  - 20 * idx.i05 AS r05,
         (idx.n - 1) * 19 - 20 * idx.i95 AS r95,
         MIN(CASE WHEN cum.cum >= idx.i05 + 1 THEN cum.c END) AS p05a,
         MIN(CASE WHEN cum.cum >= idx.i05 + 2 THEN cum.c END) AS p05b,
         MIN(CASE WHEN cum.cum >= idx.i95 + 1 THEN cum.c END) AS p95a,
         MIN(CASE WHEN cum.cum >= idx.i95 + 2 THEN cum.c END) AS p95b
  FROM cum JOIN idx USING (event_type)
  GROUP BY cum.event_type, idx.n,
           (idx.n - 1) * 1  - 20 * idx.i05,
           (idx.n - 1) * 19 - 20 * idx.i95
),
bounds AS (
  SELECT event_type, n,
         (20 - r05) * p05a + r05 * COALESCE(p05b, p05a) AS t20lo,
         (20 - r95) * p95a + r95 * COALESCE(p95b, p95a) AS t20hi
  FROM th
),
wins AS (
  SELECT h.event_type, b.n, b.t20lo, b.t20hi,
         SUM(CAST(h.cnt * GREATEST(b.t20lo, LEAST(b.t20hi, 20 * h.c))
                  AS DECIMAL(18,0))) AS wsum20
  FROM hist h JOIN bounds b USING (event_type)
  GROUP BY h.event_type, b.n, b.t20lo, b.t20hi
)
SELECT event_type,
       n AS n_events,
       ROUND(CAST(t20lo AS DOUBLE) / 2000, 6) AS p05,
       ROUND(CAST(t20hi AS DOUBLE) / 2000, 6) AS p95,
       ROUND(CAST(wsum20 AS DOUBLE) / CAST(n * 2000 AS DOUBLE), 6)
         AS winsorized_mean
FROM wins
ORDER BY event_type
""",
        # the bitmap path must equal plain COUNT(DISTINCT) exactly --
        # that equality IS the operator's contract
        "dau_bitmap_merge": """
SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
FROM events
GROUP BY CAST(date_trunc('month', ts) AS DATE)
ORDER BY month
""",
        # string-side oracle on purpose: a Spark-side xxhash64 fold
        # collision would fail the value hash (contamination_hashed
        # discipline)
        "repeated_spans": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sp AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 5 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])))
           AS span
  FROM tok WHERE len(toks) >= 5
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM sp GROUP BY doc_id),
dup AS (SELECT span FROM sp GROUP BY span HAVING MIN(doc_id) <> MAX(doc_id)),
dc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans
       FROM sp JOIN dup USING (span) GROUP BY doc_id)
SELECT s.doc_id, s.n_spans,
       CAST(COALESCE(dc.dup_spans, 0) AS BIGINT) AS dup_spans,
       ROUND(COALESCE(dc.dup_spans, 0) / CAST(s.n_spans AS DOUBLE), 6) AS dup_ratio
FROM sizes s LEFT JOIN dc USING (doc_id)
ORDER BY s.doc_id
""",
        # exact-rational TV distance; every mass term stays DECIMAL
        # until the single terminal double division (brand_trend
        # discipline), so the value hash is representation-robust
        "token_dist_drift": """
WITH tok AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
           AS t
  FROM documents
),
sf AS (
  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY source, t
),
cf AS (SELECT t, CAST(SUM(tf) AS BIGINT) AS ctf FROM sf GROUP BY t),
ns AS (
  SELECT source, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab
  FROM sf GROUP BY source
),
nc AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_c FROM sf),
terms AS (
  SELECT sf.source,
         SUM(ABS(CAST(sf.tf AS DECIMAL(18,0)) * CAST(nc.n_c AS DECIMAL(18,0))
                 - CAST(cf.ctf AS DECIMAL(18,0))
                   * CAST(ns.n_tokens AS DECIMAL(18,0)))) AS a_num,
         SUM(CAST(cf.ctf AS DECIMAL(18,0))
             * CAST(ns.n_tokens AS DECIMAL(18,0))) AS cmass
  FROM sf JOIN cf USING (t) JOIN ns USING (source) CROSS JOIN nc
  GROUP BY sf.source
)
SELECT ns.source, ns.n_tokens, ns.vocab,
       ROUND(CAST(terms.a_num
                  + (CAST(ns.n_tokens AS DECIMAL(18,0))
                     * CAST(nc.n_c AS DECIMAL(18,0)) - terms.cmass)
                  AS DOUBLE)
             / (2.0 * CAST(ns.n_tokens AS DOUBLE) * CAST(nc.n_c AS DOUBLE)),
             6) AS tv_distance
FROM terms JOIN ns USING (source) CROSS JOIN nc
ORDER BY ns.source
""",
        # raw idf (tf * N/df) keeps every arithmetic step IEEE-identical
        # across engines; log-idf would be 1-ulp-unstable at rank ties
        "tfidf_keywords": """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
           AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, token
),
dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
         ROUND(CAST(tf.tf AS DOUBLE) * nd.n_docs / dfq.df, 6) AS score
  FROM tf JOIN dfq USING (token) CROSS JOIN nd
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INT) AS rk, token, tf, df, score
FROM rk WHERE rk <= 3
ORDER BY doc_id, rk
""",
        # same md5-hex fold the dataset_split oracle uses -- the
        # engine's cross-engine-exact hash idiom
        "epoch_shuffle": """
WITH ep AS (SELECT unnest(range(0, 2)) AS epoch),
k AS (
  SELECT CAST(ep.epoch AS INT) AS epoch, d.doc_id,
         CAST(list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef',
                   substr(md5(concat(CAST(d.doc_id AS VARCHAR), ':',
                                     CAST(ep.epoch AS VARCHAR))),
                          CAST(i AS INT), 1)) - 1)
           * power(16, 8 - i))) AS BIGINT) AS order_key
  FROM documents d CROSS JOIN ep
)
SELECT epoch, doc_id, order_key, CAST(order_key % 8 AS INT) AS shard
FROM k
ORDER BY epoch, shard, order_key, doc_id
""",
        "k_anonymity": """
SELECT lang, source,
       CAST(floor(n_chars / 500.0) AS BIGINT) AS len_band,
       CAST(COUNT(*) AS BIGINT) AS class_size,
       COUNT(*) < 5 AS at_risk
FROM documents
GROUP BY lang, source, CAST(floor(n_chars / 500.0) AS BIGINT)
ORDER BY lang, source, len_band
""",
        # the composed curation DAG's disposition counts: precedence is
        # duplicate > contaminated > low_quality > kept, benchmark docs
        # (doc_id % 97 = 0) excluded from the corpus side
        "curation_summary": """
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
keep AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM corpus) WHERE rn = 1
),
ctok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM corpus
),
btok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM bench
),
csh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS shingle
  FROM ctok WHERE len(toks) >= 3
),
bsh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS shingle
  FROM btok WHERE len(toks) >= 3
),
cont AS (
  SELECT DISTINCT doc_id FROM (
    SELECT c.doc_id, b.doc_id AS bdoc
    FROM csh c JOIN bsh b USING (shingle)
    GROUP BY c.doc_id, b.doc_id
    HAVING COUNT(*) >= 2)
),
qual AS (
  SELECT doc_id,
         (len(toks) >= 15 AND len(toks) <= 60
          AND list_sum(list_transform(toks, t -> length(t))) >= 3 * len(toks)
          AND list_sum(list_transform(toks, t -> length(t))) <= 8 * len(toks)
          AND 2 * len(list_distinct(toks)) >= len(toks)) AS ok
  FROM ctok
),
disp AS (
  SELECT c.doc_id,
         CASE WHEN k.doc_id IS NULL THEN 'duplicate'
              WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
              WHEN NOT q.ok THEN 'low_quality'
              ELSE 'kept' END AS disposition
  FROM corpus c
  LEFT JOIN keep k ON c.doc_id = k.doc_id
  LEFT JOIN cont ct ON c.doc_id = ct.doc_id
  JOIN qual q ON c.doc_id = q.doc_id
)
SELECT disposition, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM disp GROUP BY disposition
ORDER BY disposition
""",
        # Spark's sliding window(ts, 2h, 1h) = each event in the window
        # starting at its own hour AND the one an hour earlier -- the
        # Expand mirrored as a 2-way shifted UNION ALL
        "events_sliding": """
WITH e AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
),
x AS (
  SELECT h AS window_start, event_type, v FROM e
  UNION ALL
  SELECT h - INTERVAL 1 HOUR AS window_start, event_type, v FROM e
)
SELECT window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(v) AS DOUBLE) AS sum_value
FROM x
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""",
        # integer-seconds latency (epoch-floor diff), BIGINT-exact sums,
        # one terminal rounded double division
        "funnel_latency": """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
),
conv AS (
  SELECT CAST(first_signup AS DATE) AS cohort_date,
         CAST(FLOOR(epoch(first_purchase)) AS BIGINT)
           - CAST(FLOOR(epoch(first_signup)) AS BIGINT) AS lag_s
  FROM firsts
  WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase > first_signup
)
SELECT cohort_date,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       MIN(lag_s) AS min_lag_s,
       MAX(lag_s) AS max_lag_s,
       ROUND(CAST(SUM(lag_s) AS DOUBLE) / COUNT(*), 6) AS avg_lag_s
FROM conv
GROUP BY cohort_date
ORDER BY cohort_date
""",
        # VARIANT-decoded rollup; the oracle decodes with DuckDB's JSON
        # reader -- two independent decoders must agree on every sum
        "events_variant": """
WITH x AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, CAST(k % 2 AS INT) AS k_parity,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM x
GROUP BY event_type, CAST(k % 2 AS INT)
ORDER BY event_type, k_parity
""",
        # every field is a pure function of doc_id (the image_dims
        # fixture idiom), so the oracle checks the REAL RIFF decode
        # without seeing the bytes; duration = n*1000 // 16000
        "audio_meta": """
SELECT doc_id,
       'wav' AS format,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS channels,
       CAST(16000 AS INT) AS sample_rate,
       CAST(16 AS INT) AS bits,
       CAST(doc_id % 97 * 160 + 160 AS BIGINT) AS n_samples,
       CAST((doc_id % 97 * 160 + 160) * 1000 // 16000 AS BIGINT) AS duration_ms
FROM documents
ORDER BY doc_id
""",
        # GIF frame-walk oracle: all fields pure functions of doc_id;
        # duration_cs = n_frames * 4
        "frame_meta": """
SELECT doc_id,
       'gif' AS format,
       CAST(doc_id % 11 + 2 AS INT) AS width,
       CAST(doc_id % 5 + 2 AS INT) AS height,
       CAST(doc_id % 7 + 1 AS INT) AS n_frames,
       CAST((doc_id % 7 + 1) * 4 AS BIGINT) AS duration_cs
FROM documents
ORDER BY doc_id
""",
        # UNPIVOT long form; the wide sums cast to one DECIMAL(38,2)
        # so the melted column has a single exact type on both engines,
        # then ONE terminal double conversion -- the output contract is
        # DOUBLE, never DECIMAL (driver-hasher DECIMAL canonicalization
        # differs across engines; see lm_score r04/r05)
        "returnflag_unpivot": """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, measure, CAST(amount AS DOUBLE) AS amount
FROM wide
UNPIVOT (amount FOR measure IN (sum_qty, sum_price, sum_disc))
ORDER BY l_returnflag, measure
""",
        # join-view incremental maintenance: the oracle is the full
        # recompute the delta algebra must equal exactly
        "join_view_merge": """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
        # incremental dedup: old corpus always wins; batch winner is the
        # min-doc_id holder of each hash not already in the stored index
        "dedup_incremental": """
WITH hashed AS (SELECT doc_id, sha256(text) AS content_hash FROM documents),
batch AS (SELECT * FROM hashed WHERE doc_id % 4 = 0),
stored_index AS (
  SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 4 <> 0
),
first_in_batch AS (
  SELECT doc_id, content_hash,
         ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
  FROM batch
)
SELECT f.doc_id, f.content_hash
FROM first_in_batch f
WHERE f.rn = 1
  AND NOT EXISTS (
    SELECT 1 FROM stored_index s WHERE s.content_hash = f.content_hash
  )
""",
        # SCD2 point-in-time join: the oracle collapses the validity
        # windows to the CASE the two snapshots imply at each ship date
        "scd2_point_in_time": """
WITH pit AS (
  SELECT CASE WHEN CAST(l_shipdate AS DATE) < DATE '1998-01-01'
              THEN trim(p_type)
              WHEN p_partkey % 5 = 0 THEN trim(p_brand)
              ELSE trim(p_type) END AS category,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  -- PIT semantics: a fact BEFORE the first validity window (or with a
  -- NULL ship date) has no as-was dimension version and is dropped,
  -- exactly as the engine's residual filter drops it
  WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
)
SELECT category, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(price) AS DOUBLE) AS revenue
FROM pit GROUP BY category ORDER BY category
""",
        # order-independent anti-entropy fingerprint; the 60-bit
        # sha256 fold and commutative (xor,count,min,max) reduction
        # are spelled identically on both engines
        "table_checksum": """
WITH sig AS (
  SELECT CAST(concat('0x', substr(sha256(concat_ws('|',
           CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
           o_orderstatus, CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
           o_orderpriority)), 1, 15)) AS BIGINT) AS sig
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(sig) AS BIGINT) AS xor_sig,
       CAST(MIN(sig) AS BIGINT) AS min_sig,
       CAST(MAX(sig) AS BIGINT) AS max_sig
FROM sig
""",
        # Deequ-style DQ audit: one declarative count per rule
        "dq_violations": """
WITH checks AS (
  SELECT 'not_null:o_orderkey' AS "check",
         CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'not_null:o_custkey',
         CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'not_null:o_orderdate',
         CAST(COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'max_len(15):o_orderpriority',
         CAST(COUNT(*) FILTER (WHERE length(o_orderpriority) > 15) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'accepted:o_orderstatus',
         CAST(COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
                                 AND o_orderstatus NOT IN ('O','F')) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'unique_key:o_orderkey', CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
  FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'ref:lineitem.l_orderkey->orders', CAST(COUNT(*) AS BIGINT)
  FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
)
SELECT "check", n_violations FROM checks ORDER BY "check"
""",
        # chi-square residual screen; num/den exact int64, squared and
        # divided in double with the same operation order as the engine
        "brand_segment_chi2": """
WITH cells AS (
  SELECT p_brand AS brand, c_mktsegment AS segment,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
rt AS (SELECT brand, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY 1),
ct AS (SELECT segment, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY 1),
g AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM cells)
SELECT brand, segment, n,
       (CAST(n * tot - r * c AS DOUBLE) * CAST(n * tot - r * c AS DOUBLE))
         / CAST(tot * r * c AS DOUBLE) AS contrib
FROM cells JOIN rt USING (brand) JOIN ct USING (segment) CROSS JOIN g
ORDER BY contrib DESC, brand, segment
LIMIT 20
""",
        # per-brand equi-depth quartiles; deterministic tie-break makes
        # ntile an exact cross-engine contract
        "brand_price_deciles": """
WITH p AS (
  SELECT p_brand AS brand,
         CAST(p_retailprice AS DECIMAL(18,2)) AS price,
         ntile(4) OVER (PARTITION BY p_brand
                        ORDER BY CAST(p_retailprice AS DECIMAL(18,2)), p_partkey)
           AS quartile
  FROM part
)
SELECT brand, CAST(quartile AS BIGINT) AS quartile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(price) AS DOUBLE) AS lo,
       CAST(MAX(price) AS DOUBLE) AS hi,
       CAST(SUM(price) AS DOUBLE) / COUNT(*) AS avg_price
FROM p GROUP BY 1, 2 ORDER BY brand, quartile
""",
        # inter-purchase gaps per segment; exact integer day gaps, one
        # terminal division, interpolated median (quantile_cont ==
        # Spark percentile)
        # rewritten portable in r8: epoch-based whole-day numbers
        # (DATE - DATE is INTEGER on DuckDB but INTERVAL on Spark) and
        # ANSI percentile_cont WITHIN GROUP (same interpolated quantile
        # as DuckDB quantile_cont; parses on both engines)
        "order_gap_stats": """
WITH dn AS (
  SELECT o_custkey, o_orderkey,
         CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
           AS d
  FROM orders
),
g AS (
  SELECT o_custkey,
         d - LAG(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
           AS gap
  FROM dn
)
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS mean_gap,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY gap) AS median_gap,
       CAST(MAX(gap) AS BIGINT) AS max_gap
FROM g JOIN customer ON o_custkey = c_custkey
WHERE gap IS NOT NULL
GROUP BY 1 ORDER BY 1
""",
        # order-to-ship latency SLA per priority (same portable
        # epoch-day + percentile_cont rewrite)
        "ship_latency": """
WITH lat AS (
  SELECT o_orderpriority AS priority,
         CAST(FLOOR(epoch(CAST(l_shipdate AS TIMESTAMP)) / 86400) AS BIGINT)
           - CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400)
                  AS BIGINT) AS latency
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(latency) AS DOUBLE) / COUNT(*) AS mean_days,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY latency) AS p50_days,
       percentile_cont(0.95) WITHIN GROUP (ORDER BY latency) AS p95_days,
       CAST(MAX(latency) AS BIGINT) AS max_days
FROM lat GROUP BY 1 ORDER BY 1
""",
        # directional containment |A n B| / |A| via the same
        # shared-shingle candidate join as jaccard_pairs
        "shingle_containment": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh)
SELECT doc_a, doc_b,
       ROUND(CAST(n_shared AS DOUBLE) / sa.n, 4) AS containment
FROM shared JOIN sz sa ON sa.doc_id = doc_a
WHERE ROUND(CAST(n_shared AS DOUBLE) / sa.n, 4) >= 0.8
ORDER BY doc_a, doc_b
""",
        # per-doc n-gram novelty vs first corpus occurrence
        "ngram_novelty": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
fd AS (SELECT shingle, MIN(doc_id) AS first_doc FROM ex GROUP BY 1)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       ROUND(CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*), 4) AS novelty
FROM ex e JOIN fd f ON e.shingle = f.shingle
GROUP BY 1 ORDER BY 1
""",

        # association rules: directional confidence + symmetric lift,
        # every metric one division of exact int64 products
        "basket_rules": """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
po AS (
  SELECT l_partkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_part
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders_total
  FROM lineitem
)
SELECT part_a, part_b, n_pair,
       ROUND(CAST(n_pair AS DOUBLE) / CAST(n_orders_total AS DOUBLE), 6)
         AS support,
       ROUND(CAST(n_pair AS DOUBLE) / CAST(pa.n_part AS DOUBLE), 6)
         AS confidence,
       ROUND(CAST(n_pair * n_orders_total AS DOUBLE)
               / CAST(pa.n_part * pb.n_part AS DOUBLE), 6) AS lift
FROM pairs
JOIN po pa ON pa.l_partkey = part_a
JOIN po pb ON pb.l_partkey = part_b
CROSS JOIN tot
WHERE n_pair >= 2
ORDER BY lift DESC, part_a, part_b
LIMIT 25
""",
        # OLS backtest: exact-rational per-week errors (integer
        # numerators, HUGEINT sums), one terminal double division
        "forecast_backtest": """
WITH li AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         CAST(FLOOR((CAST(l_shipdate AS DATE) - DATE '1995-01-02') / 7)
              AS BIGINT) AS x
  FROM lineitem
),
weekly AS (
  SELECT p_brand AS brand, x, SUM(qty) AS y
  FROM li JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
stats AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM weekly WHERE x < 261 GROUP BY 1
),
sc AS (
  SELECT w.brand, w.x, w.y, s.n, s.sx, s.sy,
         s.n * s.sxx - s.sx * s.sx AS den,
         s.n * s.sxy - s.sx * s.sy AS a_num
  FROM weekly w JOIN stats s USING (brand)
  WHERE w.x >= 261 AND s.n >= 2
)
SELECT brand,
       CAST(MAX(n) AS BIGINT) AS n_train,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ROUND(CAST(SUM(ABS(y * n * den - (sy * den - a_num * sx + n * a_num * x)))
                    AS DOUBLE)
               / (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(n) AS DOUBLE)
                  * CAST(MAX(den) AS DOUBLE)), 6) AS mae_qty
FROM sc GROUP BY brand ORDER BY brand
""",

        # global equi-depth histogram: value-level bucket rule over the
        # cents histogram's running count -- exact integer division,
        # never a float rank; the oracle's global window is the naive
        # spelling the engine's banded prefix replaces at scale.
        # bucket MUST be cast: DuckDB SUM(BIGINT) is HUGEINT and the
        # driver hasher canonicalizes int128 cells differently (the
        # r07 red; same family as the r04/r05/r06 DECIMAL reds) --
        # tests/test_oracle_lint.py now bans un-cast wide outputs.
        "price_equidepth_hist": """
WITH h AS (
  SELECT CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS c,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT c, n,
         SUM(n) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum
  FROM h
),
tot AS (SELECT SUM(n) AS n_total FROM h)
SELECT CAST(LEAST(9, (cum - n) * 10 // n_total) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MIN(c) AS DOUBLE) / 100.0 AS lo,
       CAST(MAX(c) AS DOUBLE) / 100.0 AS hi
FROM cum CROSS JOIN tot
GROUP BY 1 ORDER BY 1
""",

        # fixed-point class-unigram-LM domain classifier: the oracle is
        # string-token-side (a Spark xxhash64 fold collision would fail
        # the value hash, the lm_score discipline); every weight is an
        # exact HUGEINT IntegralDivide so the argmax is engine-stable
        "domain_classifier": """
WITH labeled AS (
  SELECT doc_id, source,
         CAST(list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS STRING)), CAST(i AS INT), 1)) - 1)
           * power(16, 8 - i))) AS BIGINT) % 10 < 8 AS is_train
  FROM documents
),
tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
           AS token
  FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
ltf AS (
  SELECT f.doc_id, f.token, f.tf, l.source, l.is_train
  FROM tf f JOIN labeled l USING (doc_id)
),
cnt AS (
  SELECT token, source AS cls, SUM(tf) AS cnt
  FROM ltf WHERE is_train GROUP BY 1, 2
),
clsuniv AS (
  -- the class universe is every label seen in TRAINING, like the
  -- engine's train_labels: a class whose docs are all token-empty
  -- still exists (uniform smoothed LM), it must not vanish just
  -- because the sparse count table has no rows for it
  SELECT DISTINCT source AS cls FROM labeled WHERE is_train
),
consts AS (
  SELECT u.cls,
         COALESCE(SUM(c.cnt), 0)
           + (SELECT COUNT(DISTINCT token) FROM cnt) AS den
  FROM clsuniv u LEFT JOIN cnt c ON c.cls = u.cls
  GROUP BY u.cls
),
k AS (
  SELECT cls, den,
         CAST(CASE WHEN den > 0
                   THEN CAST(1099511627776 AS HUGEINT) // den
                   ELSE 0 END AS BIGINT) AS w0
  FROM consts
),
wd AS (
  SELECT c.token, c.cls,
         CAST((CAST(c.cnt + 1 AS HUGEINT) * 1099511627776) // k.den
              AS BIGINT) - k.w0 AS wd
  FROM cnt c JOIN k USING (cls)
),
testdocs AS (
  SELECT l.doc_id, l.source,
         COALESCE(SUM(f.tf), 0) AS n_tokens
  FROM labeled l LEFT JOIN tf f USING (doc_id)
  WHERE NOT l.is_train GROUP BY 1, 2
),
grid AS (
  SELECT t.doc_id, t.source, k.cls, t.n_tokens * k.w0 AS base
  FROM testdocs t CROSS JOIN k
),
part AS (
  SELECT f.doc_id, w.cls, SUM(f.tf * w.wd) AS part
  FROM ltf f JOIN wd w USING (token)
  WHERE NOT f.is_train GROUP BY 1, 2
),
pred AS (
  SELECT g.doc_id, g.source, g.cls,
         ROW_NUMBER() OVER (
           PARTITION BY g.doc_id
           ORDER BY g.base + COALESCE(p.part, 0) DESC, g.cls ASC) AS rn
  FROM grid g LEFT JOIN part p ON g.doc_id = p.doc_id AND g.cls = p.cls
)
SELECT source, cls AS predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY 1, 2 ORDER BY 1, 2
""",

        # timeline order pinned by the unique event id; trigram
        # expansion mirrors the engine's zip_with fold
        "event_path_trigrams": """
WITH seq AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id) AS tl
  FROM events GROUP BY user_id
),
tri AS (
  SELECT unnest(list_transform(range(1, len(tl) - 1), i ->
           concat(tl[i], '>', tl[i+1], '>', tl[i+2]))) AS path
  FROM seq WHERE len(tl) >= 3
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n
FROM tri GROUP BY path
ORDER BY n DESC, path ASC
LIMIT 15
""",

        # expected Benford masses are 6-dp LITERALS on both engines --
        # no transcendental is evaluated cross-engine
        "benford_screen": """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                                     * 100) AS BIGINT) AS STRING), 1, 1)
              AS INT) AS digit
  FROM lineitem
),
c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
t AS (SELECT SUM(n) AS n_total FROM c)
SELECT digit, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n AS DOUBLE) / n_total, 6) AS share,
       CAST(CASE digit WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939 WHEN 4 THEN 0.09691 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 WHEN 9 THEN 0.045757 END AS DOUBLE) AS benford_p,
       ROUND(ABS(ROUND(CAST(n AS DOUBLE) / n_total, 6)
                 - CAST(CASE digit WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939 WHEN 4 THEN 0.09691 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 WHEN 9 THEN 0.045757 END AS DOUBLE)), 6) AS abs_dev
FROM c CROSS JOIN t
ORDER BY digit
""",

        # exact rank-formula Gini: every term integer, ties broken by
        # custkey (invariant: equal x makes rank swaps value-neutral)
        "nation_revenue_gini": """
WITH rev AS (
  SELECT o.o_custkey,
         SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT)) AS x
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
),
r AS (
  SELECT n.n_name AS nation, rev.o_custkey, CAST(rev.x AS HUGEINT) AS x,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY rev.x ASC, rev.o_custkey ASC) AS i
  FROM rev
  JOIN customer c ON rev.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x) AS DOUBLE)
             / CAST(COUNT(*) * SUM(x) AS DOUBLE), 6) AS gini
FROM r GROUP BY nation ORDER BY nation
""",

        # the oracle IS the skyline definition (quadratic NOT EXISTS
        # dominance); the engine's sort-based prefix-min must agree
        "part_skyline": """
WITH pts AS (
  SELECT CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS price_c,
         CAST(p_size AS BIGINT) AS size,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1, 2
)
SELECT CAST(price_c AS DOUBLE) / 100.0 AS price, size, n_parts
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.price_c <= p.price_c AND q.size <= p.size
    AND (q.price_c < p.price_c OR q.size < p.size)
)
ORDER BY price, size
""",

        # exact largest-remainder allocation: floor shares via
        # IntegralDivide, leftover cents by remainder rank with a line-
        # number tie-break -- all integers, conservation to the cent
        "rebate_proration": """
WITH j AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
         CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS price_c,
         CAST(ROUND(CAST(o.o_totalprice AS DECIMAL(18,2))) AS BIGINT)
           AS rebate_c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
t AS (
  SELECT *, SUM(price_c) OVER (PARTITION BY l_orderkey) AS total_c FROM j
),
s AS (
  SELECT *,
         CAST((CAST(rebate_c AS HUGEINT) * price_c) // total_c AS BIGINT)
           AS share,
         CAST((CAST(rebate_c AS HUGEINT) * price_c)
              - ((CAST(rebate_c AS HUGEINT) * price_c) // total_c) * total_c
              AS BIGINT) AS rem
  FROM t
),
a AS (
  SELECT l_returnflag,
         share + CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY l_orderkey
                        ORDER BY rem DESC, l_linenumber ASC)
                      <= rebate_c - SUM(share) OVER (PARTITION BY l_orderkey)
                 THEN 1 ELSE 0 END AS alloc_c
  FROM s
)
SELECT l_returnflag AS returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(alloc_c) AS BIGINT) AS alloc_cents
FROM a GROUP BY 1 ORDER BY 1
""",

        # last-touch window: IGNORE NULLS over a strictly-preceding
        # frame, ties broken by the unique event id; integer epoch
        # lookback; integer-cents revenue (no double accumulation)
        "purchase_attribution": """
WITH base AS (
  SELECT user_id, event_type,
         CAST(epoch(ts) AS BIGINT) AS sec,
         event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
touched AS (
  SELECT user_id, event_type, sec, cents,
         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY sec, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch,
         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                         THEN sec END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY sec, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_sec
  FROM base
)
SELECT CASE WHEN touch IS NOT NULL AND sec - touch_sec <= 7 * 86400
            THEN touch ELSE 'organic' END AS touch,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
FROM touched
WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY 1
""",

        # every sufficient statistic is an exact integer (HUGEINT /
        # DECIMAL(38,0)); sqrt is IEEE-correctly-rounded on both
        # engines and ROUND(r, 6) absorbs the division's last ulp
        "measure_correlations": """
WITH m AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS p,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
         CAST(ROUND(l_tax * 100) AS BIGINT) AS t
  FROM lineitem
),
s AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(q AS HUGEINT)) AS s_q, SUM(CAST(p AS HUGEINT)) AS s_p,
         SUM(CAST(d AS HUGEINT)) AS s_d, SUM(CAST(t AS HUGEINT)) AS s_t,
         SUM(CAST(q AS HUGEINT) * q) AS s_qq, SUM(CAST(p AS HUGEINT) * p) AS s_pp,
         SUM(CAST(d AS HUGEINT) * d) AS s_dd, SUM(CAST(t AS HUGEINT) * t) AS s_tt,
         SUM(CAST(q AS HUGEINT) * p) AS s_qp, SUM(CAST(q AS HUGEINT) * d) AS s_qd,
         SUM(CAST(q AS HUGEINT) * t) AS s_qt, SUM(CAST(p AS HUGEINT) * d) AS s_pd,
         SUM(CAST(p AS HUGEINT) * t) AS s_pt, SUM(CAST(d AS HUGEINT) * t) AS s_dt
  FROM m
)
SELECT pair,
       ROUND(CAST(num AS DOUBLE) / SQRT(CAST(vx AS DOUBLE))
             / SQRT(CAST(vy AS DOUBLE)), 6) AS corr
FROM (
  SELECT 'quantity~price' AS pair, n*s_qp - s_q*s_p AS num,
         n*s_qq - s_q*s_q AS vx, n*s_pp - s_p*s_p AS vy FROM s
  UNION ALL SELECT 'quantity~discount', n*s_qd - s_q*s_d,
         n*s_qq - s_q*s_q, n*s_dd - s_d*s_d FROM s
  UNION ALL SELECT 'quantity~tax', n*s_qt - s_q*s_t,
         n*s_qq - s_q*s_q, n*s_tt - s_t*s_t FROM s
  UNION ALL SELECT 'price~discount', n*s_pd - s_p*s_d,
         n*s_pp - s_p*s_p, n*s_dd - s_d*s_d FROM s
  UNION ALL SELECT 'price~tax', n*s_pt - s_p*s_t,
         n*s_pp - s_p*s_p, n*s_tt - s_t*s_t FROM s
  UNION ALL SELECT 'discount~tax', n*s_dt - s_d*s_t,
         n*s_dd - s_d*s_d, n*s_tt - s_t*s_t FROM s
)
ORDER BY pair
""",

        # triangle identity is orientation-independent: the engine runs
        # the degree-oriented wedge join (the O(m^1.5) scale form), the
        # oracle the naive id-oriented spelling -- same triangle set,
        # so a planning shortcut can't silently change results
        # the prefix-filtered twin must be output-identical to the full
        # shared-shingle join -- same oracle text as jaccard_pairs, so
        # any recall loss in the prefix filter fails the value hash
        "jaccard_prefix_pairs": _ORACLE_JACCARD_PAIRS,
        "copurchase_triangles": """
WITH e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.l_orderkey) >= 2
),
tri AS (
  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
  FROM e e1
  JOIN e e2 ON e1.pa = e2.pa AND e1.pb < e2.pb
  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
),
nodes AS (
  SELECT x AS part FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY part
ORDER BY n_triangles DESC, part ASC
LIMIT 15
""",

        # ---------------- round-8 additions ---------------------------

        # FIFO layer allocation: the oracle spells the same exact
        # running-sum interval-overlap rule (windows are per-sku);
        # every output cell CAST to BIGINT (DuckDB window-SUM widens
        # to HUGEINT -- the r07 red family)
        "fifo_allocation": """
WITH flow AS (
  SELECT l_partkey AS sku,
         CAST(l_quantity AS INT) AS qty,
         CAST(l_shipdate AS DATE) AS d,
         l_orderkey AS ord, l_linenumber AS line,
         l_orderkey % 2 = 0 AS is_receipt
  FROM lineitem
),
r AS (
  SELECT sku, qty, d, ord, line,
         SUM(qty) OVER (PARTITION BY sku ORDER BY d, ord, line
                        ROWS UNBOUNDED PRECEDING) AS hi
  FROM flow WHERE is_receipt
),
i AS (
  SELECT sku, qty, d, ord, line,
         SUM(qty) OVER (PARTITION BY sku ORDER BY d, ord, line
                        ROWS UNBOUNDED PRECEDING) AS hi
  FROM flow WHERE NOT is_receipt
),
m AS (
  SELECT r.sku,
         LEAST(r.hi, i.hi) - GREATEST(r.hi - r.qty, i.hi - i.qty) AS mq,
         i.d - r.d AS days
  FROM r JOIN i ON r.sku = i.sku
   AND r.hi - r.qty < i.hi AND i.hi - i.qty < r.hi
),
tot AS (
  SELECT sku,
         CAST(SUM(CASE WHEN is_receipt THEN qty ELSE 0 END) AS BIGINT)
           AS receipt_qty,
         CAST(SUM(CASE WHEN is_receipt THEN 0 ELSE qty END) AS BIGINT)
           AS issue_qty
  FROM flow GROUP BY sku
),
agg AS (
  SELECT sku,
         CAST(SUM(mq) AS BIGINT) AS matched_qty,
         CAST(COUNT(*) AS BIGINT) AS n_matches,
         CAST(SUM(mq * days) AS BIGINT) AS holding_days
  FROM m GROUP BY sku
)
SELECT t.sku, t.receipt_qty, t.issue_qty,
       COALESCE(a.matched_qty, 0) AS matched_qty,
       COALESCE(a.n_matches, 0) AS n_matches,
       COALESCE(a.holding_days, 0) AS holding_days
FROM tot t LEFT JOIN agg a ON t.sku = a.sku
ORDER BY t.sku
""",

        # FastSS blocking is engine-side only; the oracle is the naive
        # all-pairs levenshtein, so blocking recall loss fails the hash
        "name_edit1_pairs": """
WITH names AS (SELECT DISTINCT c_name AS s FROM customer WHERE c_name IS NOT NULL),
pairs AS (
  SELECT a.s AS name_a, b.s AS name_b
  FROM names a JOIN names b ON a.s < b.s
  WHERE levenshtein(a.s, b.s) <= 1
),
sides AS (
  SELECT name_a AS name FROM pairs
  UNION ALL SELECT name_b FROM pairs
)
SELECT name, CAST(COUNT(*) AS BIGINT) AS n_neighbors
FROM sides GROUP BY name ORDER BY name
""",

        # sweep-line concurrency: running window-SUM is HUGEINT in
        # DuckDB -- output cells cast to BIGINT
        "supplier_backlog_peak": """
WITH lines AS (
  SELECT l.l_suppkey AS supp,
         CAST(o.o_orderdate AS DATE) AS order_d,
         CAST(l.l_shipdate AS DATE) AS ship_d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
),
deltas AS (
  SELECT supp, order_d AS d, 1 AS delta FROM lines
  UNION ALL
  SELECT supp, ship_d + 1 AS d, -1 AS delta FROM lines
),
daily AS (
  SELECT supp, d, SUM(delta) AS dd FROM deltas GROUP BY supp, d
),
curve AS (
  SELECT supp, d,
         SUM(dd) OVER (PARTITION BY supp ORDER BY d
                       ROWS UNBOUNDED PRECEDING) AS open_lines
  FROM daily
),
peak AS (SELECT supp, MAX(open_lines) AS mx FROM curve GROUP BY supp)
SELECT c.supp AS suppkey,
       CAST(MAX(c.open_lines) AS BIGINT) AS peak_open_lines,
       MIN(c.d) AS peak_date
FROM curve c JOIN peak p ON c.supp = p.supp AND c.open_lines = p.mx
GROUP BY c.supp
ORDER BY suppkey
""",

        # gaps-and-islands; DATE - INTEGER is a DATE on both engines
        "order_streaks": """
WITH days AS (
  SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
),
islands AS (
  SELECT o_custkey, d,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d)
                  AS INT) AS island
  FROM days
),
runs AS (
  SELECT o_custkey, island, COUNT(*) AS run_len
  FROM islands GROUP BY o_custkey, island
)
SELECT o_custkey AS custkey,
       CAST(MAX(run_len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_order_days_runs
FROM runs GROUP BY o_custkey
HAVING MAX(run_len) >= 2
ORDER BY custkey
""",

        # lower weighted median: smallest cents value whose cumulative
        # weight doubles past the total -- exact integer rule, no
        # interpolation; cents/100.0 is one IEEE divide
        "weighted_median_price": """
WITH priced AS (
  SELECT p.p_brand,
         CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents,
         CAST(l.l_quantity AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
pts AS (
  SELECT p_brand, cents, SUM(qty) AS w FROM priced GROUP BY p_brand, cents
),
cum AS (
  SELECT p_brand, cents, w,
         SUM(w) OVER (PARTITION BY p_brand ORDER BY cents
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY p_brand) AS tw
  FROM pts
)
SELECT p_brand AS brand,
       CAST(MIN(cents) AS DOUBLE) / 100.0 AS median_price,
       CAST(MAX(tw) AS BIGINT) AS total_qty
FROM cum WHERE cw * 2 >= tw
GROUP BY p_brand ORDER BY brand
""",

        # all-integer cohort triangle (months fold to year*12+month)
        "cohort_matrix": """
WITH om AS (
  SELECT DISTINCT o_custkey,
         CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT)
           AS mkey
  FROM orders
),
first AS (SELECT o_custkey, MIN(mkey) AS m0 FROM om GROUP BY o_custkey)
SELECT printf('%04d-%02d', CAST(FLOOR(f.m0 / 12.0) AS INT),
              CAST(f.m0 % 12 + 1 AS INT)) AS cohort,
       CAST(o.mkey - f.m0 AS BIGINT) AS month_offset,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
FROM om o JOIN first f ON o.o_custkey = f.o_custkey
GROUP BY 1, 2 ORDER BY cohort, month_offset
""",

        # cent-ending distribution; single terminal divide round 6
        "price_endings": """
WITH e AS (
  SELECT CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           % 100 AS ending
  FROM lineitem
),
c AS (SELECT ending, COUNT(*) AS n FROM e GROUP BY ending),
t AS (SELECT SUM(n) AS n_total FROM c)
SELECT CAST(ending AS BIGINT) AS ending,
       CAST(n AS BIGINT) AS n,
       ROUND(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share
FROM c CROSS JOIN t ORDER BY ending
""",

        # PMI-rank-equivalent lift from exact int64 counts; bigrams are
        # consecutive (non-distinct) token pairs, same tokenizer as the
        # engine (split on whitespace, drop empties)
        "collocation_lift": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')
           AS toks
  FROM documents
),
uni AS (
  SELECT unnest(toks) AS tok, doc_id FROM tok
),
ucnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok FROM uni GROUP BY tok),
bi AS (
  SELECT unnest(list_transform(range(1, len(toks)), i ->
           concat(toks[i], ' ', toks[i+1]))) AS bigram
  FROM tok WHERE len(toks) >= 2
),
bcnt AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM bi GROUP BY bigram HAVING COUNT(*) >= 5
),
tots AS (
  SELECT CAST((SELECT SUM(n_tok) FROM ucnt) AS BIGINT) AS n_uni,
         CAST((SELECT COUNT(*) FROM bi) AS BIGINT) AS n_bi
)
SELECT b.bigram, b.n_ab,
       ROUND(CAST(b.n_ab * t.n_uni * t.n_uni AS DOUBLE)
             / CAST(t.n_bi * a.n_tok * c.n_tok AS DOUBLE), 6) AS lift
FROM bcnt b
JOIN ucnt a ON a.tok = split_part(b.bigram, ' ', 1)
JOIN ucnt c ON c.tok = split_part(b.bigram, ' ', 2)
CROSS JOIN tots t
ORDER BY lift DESC, bigram ASC
LIMIT 20
""",

        # vocabulary-shape stats; one (source, token) aggregate
        "hapax_stats": """
WITH tok AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
tf AS (SELECT source, tok, COUNT(*) AS n FROM tok GROUP BY source, tok)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
         AS type_token_ratio,
       ROUND(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
FROM tf GROUP BY source ORDER BY source
""",

        # per-nation modal priority, deterministic tie-break
        "dominant_priority": """
WITH cnt AS (
  SELECT n.n_name, o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT n_name, o_orderpriority, n,
         ROW_NUMBER() OVER (PARTITION BY n_name
                            ORDER BY n DESC, o_orderpriority ASC) AS rn,
         SUM(n) OVER (PARTITION BY n_name) AS n_nation
  FROM cnt
)
SELECT n_name AS nation, o_orderpriority AS priority, n,
       ROUND(CAST(n AS DOUBLE) / CAST(n_nation AS DOUBLE), 6) AS share
FROM ranked WHERE rn = 1 ORDER BY nation
""",

        # HHI from exact integer cents: squares sum in HUGEINT (the
        # engine uses DECIMAL(38,0)); int128->double and decimal->
        # double both round-to-nearest of the same integer, then ONE
        # IEEE divide -- cross-engine exact (the r7 float discipline)
        "nation_supplier_hhi": """
WITH rev AS (
  SELECT l.l_suppkey,
         CAST(SUM(CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                       AS BIGINT)) AS HUGEINT) AS r
  FROM lineitem l GROUP BY l.l_suppkey
),
tagged AS (
  SELECT n.n_name, rev.r
  FROM rev
  JOIN supplier s ON rev.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
)
SELECT n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(CAST(SUM(r * r) AS DOUBLE)
             / (CAST(SUM(r) AS DOUBLE) * CAST(SUM(r) AS DOUBLE)), 6) AS hhi
FROM tagged GROUP BY n_name ORDER BY nation
""",

        # Simpson diversity: same exact-squares machinery over token
        # counts
        "token_simpson_diversity": """
WITH tok AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
tf AS (
  SELECT source, tok, CAST(COUNT(*) AS HUGEINT) AS n
  FROM tok GROUP BY source, tok
)
SELECT source,
       ROUND(1 - CAST(SUM(n * n) AS DOUBLE)
                 / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)), 6)
         AS simpson_diversity
FROM tf GROUP BY source ORDER BY source
""",

        # pairwise vocabulary jaccard between sources
        "source_vocab_overlap": """
WITH st AS (
  SELECT DISTINCT source,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
sizes AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b,
       ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6)
         AS vocab_jaccard
FROM shared
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
ORDER BY source_a, source_b
""",

        # joint basket-size histogram + sanctioned 1-row total gate
        "basket_size_histogram": """
WITH per_order AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
  FROM lineitem GROUP BY l_orderkey
),
cells AS (
  SELECT n_lines, n_parts, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM per_order GROUP BY n_lines, n_parts
),
t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS t FROM cells)
SELECT n_lines, n_parts, n_orders,
       ROUND(CAST(n_orders AS DOUBLE) / t, 6) AS share
FROM cells CROSS JOIN t
ORDER BY n_lines, n_parts
""",

        # brand loyalty: distinct-month repeat share
        "repeat_purchase_rate": """
WITH bc AS (
  SELECT p.p_brand, o.o_custkey,
         COUNT(DISTINCT CAST(YEAR(o.o_orderdate) * 12
                             + MONTH(o.o_orderdate) - 1 AS BIGINT))
           AS n_months
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand, o.o_custkey
)
SELECT p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN n_months >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       ROUND(CAST(SUM(CASE WHEN n_months >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS repeat_rate
FROM bc GROUP BY p_brand ORDER BY brand
""",

        # monthly new-vs-repeat revenue decomposition, integer months
        # and integer cents until the /100 display divide
        "new_vs_repeat_revenue": """
WITH o AS (
  SELECT o_custkey,
         CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT)
           AS mkey,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
first AS (SELECT o_custkey, MIN(mkey) AS m0 FROM o GROUP BY o_custkey)
SELECT printf('%04d-%02d', CAST(FLOOR(o.mkey / 12.0) AS INT),
              CAST(o.mkey % 12 + 1 AS INT)) AS month,
       CAST(SUM(CASE WHEN o.mkey = f.m0 THEN o.cents ELSE 0 END) AS DOUBLE)
         / 100.0 AS new_revenue,
       CAST(SUM(CASE WHEN o.mkey <> f.m0 THEN o.cents ELSE 0 END) AS DOUBLE)
         / 100.0 AS repeat_revenue,
       CAST(COUNT(DISTINCT CASE WHEN o.mkey = f.m0 THEN o.o_custkey END)
            AS BIGINT) AS n_new_customers
FROM o JOIN first f ON o.o_custkey = f.o_custkey
GROUP BY o.mkey ORDER BY month
""",

        # doubling-scale value histogram: length(bin(cents)) is the
        # exact integer log2 bucket on both engines
        "magnitude_histogram": """
WITH o AS (
  SELECT o_orderpriority AS priority,
         CAST(LENGTH(bin(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                                    * 100) AS BIGINT))) AS BIGINT)
           AS magnitude
  FROM orders
),
cells AS (
  SELECT priority, magnitude, CAST(COUNT(*) AS BIGINT) AS n
  FROM o GROUP BY priority, magnitude
)
SELECT priority, magnitude, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY priority) AS DOUBLE), 6)
         AS share
FROM cells ORDER BY priority, magnitude
""",

        # periodic LIFO: the receipt side's unit intervals reflect
        # through the per-sku inflow total; same overlap rule as FIFO
        "lifo_allocation": """
WITH flow AS (
  SELECT l_partkey AS sku,
         CAST(l_quantity AS INT) AS qty,
         CAST(l_shipdate AS DATE) AS d,
         l_orderkey AS ord, l_linenumber AS line,
         l_orderkey % 2 = 0 AS is_receipt
  FROM lineitem
),
r0 AS (
  SELECT sku, qty, d, ord, line,
         SUM(qty) OVER (PARTITION BY sku ORDER BY d, ord, line
                        ROWS UNBOUNDED PRECEDING) AS hi
  FROM flow WHERE is_receipt
),
rtot AS (SELECT sku, MAX(hi) AS rt FROM r0 GROUP BY sku),
r AS (
  SELECT r0.sku, r0.d, r0.ord, r0.line,
         rt - r0.hi AS lo,
         rt - (r0.hi - r0.qty) AS hi
  FROM r0 JOIN rtot ON r0.sku = rtot.sku
),
i AS (
  SELECT sku, qty, d, ord, line,
         SUM(qty) OVER (PARTITION BY sku ORDER BY d, ord, line
                        ROWS UNBOUNDED PRECEDING) AS hi
  FROM flow WHERE NOT is_receipt
),
m AS (
  SELECT r.sku,
         LEAST(r.hi, i.hi) - GREATEST(r.lo, i.hi - i.qty) AS mq,
         i.d - r.d AS days
  FROM r JOIN i ON r.sku = i.sku
   AND r.lo < i.hi AND i.hi - i.qty < r.hi
),
tot AS (
  SELECT sku,
         CAST(SUM(CASE WHEN is_receipt THEN qty ELSE 0 END) AS BIGINT)
           AS receipt_qty,
         CAST(SUM(CASE WHEN is_receipt THEN 0 ELSE qty END) AS BIGINT)
           AS issue_qty
  FROM flow GROUP BY sku
),
agg AS (
  SELECT sku,
         CAST(SUM(mq) AS BIGINT) AS matched_qty,
         CAST(COUNT(*) AS BIGINT) AS n_matches,
         CAST(SUM(mq * days) AS BIGINT) AS holding_days
  FROM m GROUP BY sku
)
SELECT t.sku, t.receipt_qty, t.issue_qty,
       COALESCE(a.matched_qty, 0) AS matched_qty,
       COALESCE(a.n_matches, 0) AS n_matches,
       COALESCE(a.holding_days, 0) AS holding_days
FROM tot t LEFT JOIN agg a ON t.sku = a.sku
ORDER BY t.sku
""",

        # pricing-integrity dispersion screen; exact cents
        "price_dispersion": """
WITH p AS (
  SELECT l_partkey AS partkey,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem
)
SELECT partkey,
       CAST(COUNT(DISTINCT cents) AS BIGINT) AS n_prices,
       CAST(MIN(cents) AS DOUBLE) / 100.0 AS min_price,
       CAST(MAX(cents) AS DOUBLE) / 100.0 AS max_price,
       ROUND(CAST(MAX(cents) - MIN(cents) AS DOUBLE)
             / CAST(MIN(cents) AS DOUBLE), 6) AS rel_spread
FROM p GROUP BY partkey
HAVING COUNT(DISTINCT cents) >= 2
ORDER BY partkey
""",

        # exact-rational seasonality index (qty_m * 12 / total)
        "monthly_seasonality": """
WITH m AS (
  SELECT CAST(MONTH(l_shipdate) AS BIGINT) AS month,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1
),
t AS (SELECT CAST(SUM(qty) AS BIGINT) AS t FROM m)
SELECT month, qty,
       ROUND(CAST(qty * 12 AS DOUBLE) / CAST(t AS DOUBLE), 6)
         AS seasonality_index
FROM m CROSS JOIN t ORDER BY month
""",

        # AP duplicate-payment screen (whole-dollar blocking stage);
        # the group IS the candidate set
        "duplicate_invoice_screen": """
WITH o AS (
  SELECT o_custkey,
         CAST(FLOOR(o_totalprice) AS BIGINT) AS dollars,
         CAST(o_orderdate AS DATE) AS d
  FROM orders
)
SELECT dollars,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(MAX(d) - MIN(d) AS BIGINT) AS span_days
FROM o GROUP BY dollars
HAVING COUNT(*) >= 2
ORDER BY dollars
""",

        # ABC drift matrix: the same global running share per half,
        # full-outer joined; '-' = absent from that half
        "abc_migration": """
WITH li AS (
  SELECT CAST(l_partkey AS STRING) AS sku,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS rev,
         CAST(l_shipdate AS DATE) AS d
  FROM lineitem
),
h1s AS (SELECT sku, SUM(rev) AS revenue FROM li
        WHERE d < DATE '1996-01-01' GROUP BY sku),
h1t AS (SELECT SUM(revenue) AS total FROM h1s),
h1c AS (
  SELECT sku, SUM(revenue) OVER (ORDER BY revenue DESC, sku
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM h1s
),
h1 AS (
  SELECT sku,
         CASE WHEN CAST(cum AS DOUBLE) / CAST(t.total AS DOUBLE) <= 0.80
                THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(t.total AS DOUBLE) <= 0.95
                THEN 'B'
              ELSE 'C' END AS class_h1
  FROM h1c CROSS JOIN h1t t
),
h2s AS (SELECT sku, SUM(rev) AS revenue FROM li
        WHERE d >= DATE '1996-01-01' GROUP BY sku),
h2t AS (SELECT SUM(revenue) AS total FROM h2s),
h2c AS (
  SELECT sku, SUM(revenue) OVER (ORDER BY revenue DESC, sku
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM h2s
),
h2 AS (
  SELECT sku,
         CASE WHEN CAST(cum AS DOUBLE) / CAST(t.total AS DOUBLE) <= 0.80
                THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(t.total AS DOUBLE) <= 0.95
                THEN 'B'
              ELSE 'C' END AS class_h2
  FROM h2c CROSS JOIN h2t t
)
SELECT COALESCE(h1.class_h1, '-') AS class_h1,
       COALESCE(h2.class_h2, '-') AS class_h2,
       CAST(COUNT(*) AS BIGINT) AS n_skus
FROM h1 FULL OUTER JOIN h2 ON h1.sku = h2.sku
GROUP BY 1, 2 ORDER BY 1, 2
""",

        # Heaps-law vocabulary growth: each token contributes only its
        # FIRST-seen decile; the running total densifies via the
        # sequence-explode idiom on both sides. FLOOR, never a bare
        # double->int cast (DuckDB rounds, Spark truncates)
        "vocab_growth": """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
step AS (
  SELECT GREATEST(1, CAST(FLOOR(COUNT(DISTINCT doc_id) / 10.0) AS BIGINT))
    AS s
  FROM documents
),
fs AS (
  SELECT LEAST(CAST(FLOOR(MIN(doc_id) / (SELECT s FROM step)) AS INT), 9)
    AS decile
  FROM tok GROUP BY tok
),
pd AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS new_tokens
       FROM fs GROUP BY decile),
dens AS (
  SELECT unnest(range(pd.decile, 10)) AS decile, new_tokens FROM pd
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(SUM(new_tokens) AS BIGINT) AS vocab
FROM dens GROUP BY decile ORDER BY decile
""",

        # margin-leakage profile: exact integer discount points/cents
        "discount_depth_profile": """
WITH li AS (
  SELECT CAST(ROUND(CAST(l_discount AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS discount_pct,
         CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM lineitem
),
per AS (
  SELECT discount_pct, CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(cents) AS rev_cents
  FROM li GROUP BY discount_pct
),
t AS (SELECT SUM(n_lines) AS tl, SUM(rev_cents) AS tr FROM per)
SELECT discount_pct, n_lines,
       ROUND(CAST(n_lines AS DOUBLE) / CAST(tl AS DOUBLE), 6) AS line_share,
       ROUND(CAST(rev_cents AS DOUBLE) / CAST(tr AS DOUBLE), 6)
         AS revenue_share
FROM per CROSS JOIN t ORDER BY discount_pct
""",

        # merchandising quality screen: return-flag shares per brand
        "returns_rate_by_brand": """
SELECT p.p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       ROUND(CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS line_return_rate,
       ROUND(CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                           THEN CAST(l.l_quantity AS BIGINT)
                           ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS DOUBLE), 6)
         AS qty_return_rate,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty_total,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                     THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
         AS qty_returned
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand ORDER BY brand
""",

        # Zipf spectrum: length(bin(count)) = exact log2 bucket
        "token_frequency_spectrum": """
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
tf AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
sp AS (
  SELECT CAST(LENGTH(bin(CAST(n AS BIGINT))) AS BIGINT) AS freq_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(n) AS BIGINT) AS mass
  FROM tf GROUP BY 1
),
t AS (SELECT CAST(SUM(mass) AS BIGINT) AS t FROM sp)
SELECT freq_bucket, n_tokens, mass,
       ROUND(CAST(mass AS DOUBLE) / CAST(t AS DOUBLE), 6) AS mass_share
FROM sp CROSS JOIN t ORDER BY freq_bucket
""",

        # ISO-weekday ops calendar; cents-exact
        "weekday_revenue_profile": """
WITH o AS (
  SELECT CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS isodow,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
),
per AS (
  SELECT isodow, CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(cents) AS rev_cents
  FROM o GROUP BY isodow
),
t AS (SELECT SUM(n_orders) AS tn, SUM(rev_cents) AS tr FROM per)
SELECT isodow, n_orders,
       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
       ROUND(CAST(n_orders AS DOUBLE) / CAST(tn AS DOUBLE), 6)
         AS order_share,
       ROUND(CAST(rev_cents AS DOUBLE) / CAST(tr AS DOUBLE), 6)
         AS revenue_share
FROM per CROSS JOIN t ORDER BY isodow
""",

        # SLA heat map: exact integer week buckets (FLOOR toward -inf
        # on both engines; negative buckets are the inverted
        # anomalies). Epoch-day integers, not DATE - DATE (INTEGER on
        # DuckDB, INTERVAL on Spark) -- keeps the string 3-way portable
        "lead_time_bucket_matrix": """
WITH lat AS (
  SELECT o.o_orderpriority AS priority,
         CAST(FLOOR((CAST(FLOOR(epoch(CAST(l.l_shipdate AS TIMESTAMP))
                                / 86400) AS BIGINT)
                     - CAST(FLOOR(epoch(CAST(o.o_orderdate AS TIMESTAMP))
                                  / 86400) AS BIGINT)) / 7.0) AS BIGINT)
           AS week_bucket
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cells AS (
  SELECT priority, week_bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM lat GROUP BY priority, week_bucket
)
SELECT priority, week_bucket, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY priority) AS DOUBLE), 6)
         AS share
FROM cells ORDER BY priority, week_bucket
""",
        # round 11: JPEG SOF decode verified arithmetically from doc_id
        # (the image_dims contract; variant/dims are pure id functions)
        "image_dims_jpeg": """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'jpeg_progressive' ELSE 'jpeg' END AS format,
       CAST(doc_id % 199 + 8 AS INT) AS width,
       CAST((doc_id * 17) % 151 + 8 AS INT) AS height,
       CAST(CASE WHEN doc_id % 3 = 1 THEN 8 ELSE 24 END AS INT) AS bit_depth
FROM documents
ORDER BY doc_id
""",
        # round 11: degree distribution of the >=2-distinct-orders
        # co-purchase graph (paired projection of the graph family)
        "copurchase_degree_hist": """
WITH pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.l_orderkey) >= 2
),
und AS (SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY node)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM deg GROUP BY degree ORDER BY degree
""",
        # round 11: component sizes of the >=3-distinct-orders graph --
        # the large-star/small-star CC operator vs a recursive-CTE
        # transitive-closure oracle (dedup_groups' proven pattern)
        "copurchase_component_sizes": """
WITH RECURSIVE pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.l_orderkey) >= 3
),
edges AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS root FROM reach GROUP BY a),
sizes AS (
  SELECT root, CAST(COUNT(*) AS BIGINT) AS comp_size FROM comp GROUP BY root
)
SELECT comp_size, CAST(COUNT(*) AS BIGINT) AS n_components
FROM sizes GROUP BY comp_size ORDER BY comp_size
""",
        # round 11: the iterative PageRank loop becomes FULLY paired --
        # the operator is BIGINT fixed-point (every division a floor
        # div, every sum exact), so 6 unrolled iteration CTEs reproduce
        # it integer-for-integer; no float ever enters either side.
        "pagerank": """
WITH pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
edges AS (SELECT pa AS src, pb AS dst FROM pairs UNION SELECT pb, pa FROM pairs),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM deg),
r1 AS (
  SELECT d.node, CAST(150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM deg d
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // dd.outdeg) AS s
    FROM edges e JOIN r0 r ON r.node = e.src JOIN deg dd ON dd.node = e.src
    GROUP BY e.dst
  ) c ON c.node = d.node
),
r2 AS (
  SELECT d.node, CAST(150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM deg d
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // dd.outdeg) AS s
    FROM edges e JOIN r1 r ON r.node = e.src JOIN deg dd ON dd.node = e.src
    GROUP BY e.dst
  ) c ON c.node = d.node
),
r3 AS (
  SELECT d.node, CAST(150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM deg d
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // dd.outdeg) AS s
    FROM edges e JOIN r2 r ON r.node = e.src JOIN deg dd ON dd.node = e.src
    GROUP BY e.dst
  ) c ON c.node = d.node
),
r4 AS (
  SELECT d.node, CAST(150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM deg d
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // dd.outdeg) AS s
    FROM edges e JOIN r3 r ON r.node = e.src JOIN deg dd ON dd.node = e.src
    GROUP BY e.dst
  ) c ON c.node = d.node
),
r5 AS (
  SELECT d.node, CAST(150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM deg d
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // dd.outdeg) AS s
    FROM edges e JOIN r4 r ON r.node = e.src JOIN deg dd ON dd.node = e.src
    GROUP BY e.dst
  ) c ON c.node = d.node
),
r6 AS (
  SELECT d.node, CAST(150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM deg d
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // dd.outdeg) AS s
    FROM edges e JOIN r5 r ON r.node = e.src JOIN deg dd ON dd.node = e.src
    GROUP BY e.dst
  ) c ON c.node = d.node
)
SELECT node AS part, rank FROM r6 ORDER BY rank DESC, part LIMIT 50
""",
        # round 11: group-aware split -- dedup_groups' recursive-CTE
        # clustering composed with dataset_split's md5-bucket idiom,
        # keyed on the CANONICAL id so no near-dup group straddles
        "leakage_safe_split": """
WITH RECURSIVE tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3 + 2), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
jpairs AS (
  SELECT doc_a, doc_b
  FROM shared
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jpairs
  UNION
  SELECT doc_b, doc_a FROM jpairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id
  FROM reach GROUP BY a
),
gsz AS (SELECT canonical_id, COUNT(*) AS group_size FROM comp GROUP BY 1),
g AS (
  SELECT c.doc_id, c.canonical_id, s.group_size
  FROM comp c JOIN gsz s ON s.canonical_id = c.canonical_id
),
j AS (
  SELECT d.doc_id,
         COALESCE(g.canonical_id, d.doc_id) AS canon,
         CASE WHEN g.group_size >= 2 THEN 1 ELSE 0 END AS nd
  FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id
),
b AS (
  SELECT canon, nd,
         CAST(list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef',
                   substr(md5(CAST(canon AS STRING)), CAST(i AS INT), 1)) - 1)
           * power(16, 8 - i))) AS BIGINT) % 10 AS bucket
  FROM j
)
SELECT CASE WHEN bucket < 8 THEN 'train'
            WHEN bucket = 8 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canonical,
       CAST(SUM(nd) AS BIGINT) AS n_near_dup_docs
FROM b GROUP BY 1 ORDER BY 1
""",
        # round 11: MOSS winnowing (Schleimer et al. 2003) -- k=4-token
        # gram hashes via the portable md5 hex-fold, w=4 window minima
        # with leftmost tie-break (list_position = first match, exactly
        # Spark's array_position), selections deduped per doc. Both
        # entries share this prelude.
        "winnow_fingerprint_density": """
WITH tok AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
h AS (
  SELECT doc_id, source,
         list_transform(
           list_transform(range(1, len(toks) - 4 + 2), i ->
             array_to_string(list_slice(toks, i, i + 3), ' ')),
           g -> CAST(list_sum(list_transform(range(1, 9), x ->
                  (strpos('0123456789abcdef',
                          substr(md5(g), CAST(x AS INT), 1)) - 1)
                  * power(16, 8 - x))) AS BIGINT)) AS hs
  FROM tok WHERE len(toks) >= 7
),
sel AS (
  SELECT doc_id, source, hs,
         list_distinct(list_transform(range(1, len(hs) - 4 + 2), j ->
           j - 1 + list_position(list_slice(hs, j, j + 3),
                                 list_min(list_slice(hs, j, j + 3))))) AS ps
  FROM h
),
fpe AS (SELECT doc_id, hs[unnest(ps)] AS fp FROM sel),
perdoc AS (
  SELECT doc_id, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fp
  FROM fpe GROUP BY doc_id
),
g AS (SELECT doc_id, source, CAST(len(hs) AS BIGINT) AS n_grams FROM h)
SELECT g.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_fp) AS BIGINT) AS n_fingerprints,
       ROUND(CAST(SUM(p.n_fp) AS DOUBLE) / COUNT(*), 4) AS fp_per_doc,
       ROUND(CAST(SUM(p.n_fp) AS DOUBLE) / SUM(g.n_grams), 4) AS density
FROM g JOIN perdoc p ON p.doc_id = g.doc_id
GROUP BY 1 ORDER BY 1
""",
        "fingerprint_matches": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, len(toks) - 4 + 2), i ->
             array_to_string(list_slice(toks, i, i + 3), ' ')),
           g -> CAST(list_sum(list_transform(range(1, 9), x ->
                  (strpos('0123456789abcdef',
                          substr(md5(g), CAST(x AS INT), 1)) - 1)
                  * power(16, 8 - x))) AS BIGINT)) AS hs
  FROM tok WHERE len(toks) >= 7
),
sel AS (
  SELECT doc_id, hs,
         list_distinct(list_transform(range(1, len(hs) - 4 + 2), j ->
           j - 1 + list_position(list_slice(hs, j, j + 3),
                                 list_min(list_slice(hs, j, j + 3))))) AS ps
  FROM h
),
fpe AS (SELECT doc_id, hs[unnest(ps)] AS fp FROM sel),
fpd AS (SELECT DISTINCT doc_id, fp FROM fpe),
rare AS (SELECT fp FROM fpd GROUP BY fp HAVING COUNT(*) <= 50),
kept AS (SELECT f.doc_id, f.fp FROM fpd f JOIN rare USING (fp)),
nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM fpd GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT doc_a, doc_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / LEAST(na.nf, nb.nf), 4) AS overlap
FROM pairs
JOIN nf na ON na.doc_id = doc_a
JOIN nf nb ON nb.doc_id = doc_b
ORDER BY n_shared DESC, doc_a, doc_b
""",

        # round 12: the kcore family's first paired row -- the result
        # is DEFINED as 24 synchronous H-index rounds (fixed-round
        # contract, the pagerank precedent; 24 covers every probed
        # local convergence horizon, so the value IS coreness here),
        # reproduced integer-for-integer by 24 unrolled CTEs. The
        # CTEs are AS MATERIALIZED (DuckDB-only grammar -- hence the
        # dialect-syntax nonportable tag): DuckDB's optimizer goes
        # EXPONENTIAL on a deep plain-CTE chain (measured at sf0.01:
        # 0.4s at depth 10, 10s at 16, ~800s extrapolated at 24;
        # materialized: 0.25s at 24) -- each level inlines its whole
        # prefix and the re-optimization compounds
        "copurchase_kcore_hist": """
WITH pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.l_orderkey) >= 2
),
edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs UNION SELECT pb, pa FROM pairs),
h0 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS c FROM edges GROUP BY src),
h1 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h0 h ON h.node = e.dst
  ) GROUP BY src
),
h2 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h1 h ON h.node = e.dst
  ) GROUP BY src
),
h3 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h2 h ON h.node = e.dst
  ) GROUP BY src
),
h4 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h3 h ON h.node = e.dst
  ) GROUP BY src
),
h5 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h4 h ON h.node = e.dst
  ) GROUP BY src
),
h6 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h5 h ON h.node = e.dst
  ) GROUP BY src
),
h7 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h6 h ON h.node = e.dst
  ) GROUP BY src
),
h8 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h7 h ON h.node = e.dst
  ) GROUP BY src
),
h9 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h8 h ON h.node = e.dst
  ) GROUP BY src
),
h10 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h9 h ON h.node = e.dst
  ) GROUP BY src
),
h11 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h10 h ON h.node = e.dst
  ) GROUP BY src
),
h12 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h11 h ON h.node = e.dst
  ) GROUP BY src
),
h13 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h12 h ON h.node = e.dst
  ) GROUP BY src
),
h14 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h13 h ON h.node = e.dst
  ) GROUP BY src
),
h15 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h14 h ON h.node = e.dst
  ) GROUP BY src
),
h16 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h15 h ON h.node = e.dst
  ) GROUP BY src
),
h17 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h16 h ON h.node = e.dst
  ) GROUP BY src
),
h18 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h17 h ON h.node = e.dst
  ) GROUP BY src
),
h19 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h18 h ON h.node = e.dst
  ) GROUP BY src
),
h20 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h19 h ON h.node = e.dst
  ) GROUP BY src
),
h21 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h20 h ON h.node = e.dst
  ) GROUP BY src
),
h22 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h21 h ON h.node = e.dst
  ) GROUP BY src
),
h23 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h22 h ON h.node = e.dst
  ) GROUP BY src
),
h24 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h23 h ON h.node = e.dst
  ) GROUP BY src
)
SELECT c AS h_round24, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM h24 GROUP BY c ORDER BY h_round24
""",
        # round 12: the PQ/ADC serve path paired end to end -- encode
        # (argmin over the 16 seed sub-centroids, lowest-code ties),
        # ADC table for the pinned query, the table-lookup scan sum,
        # top-10, and exact re-rank, all exact BIGINT arithmetic on
        # 1e-4-quantized coordinates (the kmeans_iteration discipline)
        "pq_adc_topk": """
WITH ex AS (
  SELECT vec_id, CAST(FLOOR((CAST(i AS BIGINT) - 1) / 8.0) AS BIGINT) AS j,
         (CAST(i AS BIGINT) - 1) % 8 AS t,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
seeds AS (
  SELECT CAST(vec_id AS BIGINT) AS code, j, t, q AS c FROM ex WHERE vec_id < 16
),
d2 AS (
  SELECT e.vec_id, e.j, s.code, SUM((e.q - s.c) * (e.q - s.c)) AS d2
  FROM ex e JOIN seeds s ON e.j = s.j AND e.t = s.t
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
    FROM d2
  ) WHERE rn = 1
),
qv AS (SELECT j, t, q AS qq FROM ex WHERE vec_id = 0),
tab AS (
  SELECT s.j, s.code, SUM((v.qq - s.c) * (v.qq - s.c)) AS td2
  FROM seeds s JOIN qv v ON s.j = v.j AND s.t = v.t
  GROUP BY 1, 2
),
adc AS (
  SELECT c.vec_id, CAST(SUM(tb.td2) AS BIGINT) AS adc_d2
  FROM codes c JOIN tab tb ON c.j = tb.j AND c.code = tb.code
  GROUP BY 1
),
topk AS (SELECT vec_id, adc_d2 FROM adc ORDER BY adc_d2, vec_id LIMIT 10),
exact AS (
  SELECT e.vec_id, CAST(SUM((e.q - v.qq) * (e.q - v.qq)) AS BIGINT) AS exact_d2
  FROM ex e JOIN qv v ON e.j = v.j AND e.t = v.t
  WHERE e.vec_id IN (SELECT vec_id FROM topk)
  GROUP BY 1
)
SELECT t.vec_id, t.adc_d2, x.exact_d2
FROM topk t JOIN exact x ON t.vec_id = x.vec_id
ORDER BY t.adc_d2, t.vec_id
""",

        # round 12 session 2: the int8 rung of the ANN-compression
        # family paired -- codes from the identical exact-int-to-
        # double round(v*127/max|v|) expression on both engines, dot
        # and norms exact BIGINT, cosine the one float (identical
        # inputs, identical expression), ranked unrounded
        "int8_cosine_topk": _INT8_COSINE_TOPK_SQL,
        # --- round-13 rows-only -> paired conversions (r12 verdict
        # item #3): pinned hash families restated verbatim ------------
        # banded MinHash under the PINNED universal-hash family
        # (A*x + B) mod 2^31-1 over md5 hex-fold shingle hashes --
        # constants = operators/dedup.py MINHASH_PERMS; band keys are
        # (band, sig-row, sig-row) tuples, verification is exact
        # Jaccard on the hashed-shingle sets (list_intersect ==
        # array_intersect: both sets are distinct)
        "minhash_pairs": """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1), i ->
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles
  FROM tok WHERE len(toks) >= 3
),
hs AS (
  SELECT doc_id,
         list_distinct(list_transform(shingles, s ->
           CAST(list_sum(list_transform(range(1, 9), i ->
             (strpos('0123456789abcdef', substr(md5(s), CAST(i AS INT), 1)) - 1)
             * power(16, 8 - i))) AS BIGINT))) AS h
  FROM sh
),
sig AS (
  SELECT doc_id,
         list_min(list_transform(h, x -> (CAST(257093419 AS BIGINT) * x + 713984526) % 2147483647)) AS s0,
         list_min(list_transform(h, x -> (CAST(557988187 AS BIGINT) * x + 330252355) % 2147483647)) AS s1,
         list_min(list_transform(h, x -> (CAST(166587455 AS BIGINT) * x + 1290638759) % 2147483647)) AS s2,
         list_min(list_transform(h, x -> (CAST(1002143927 AS BIGINT) * x + 1219733215) % 2147483647)) AS s3,
         list_min(list_transform(h, x -> (CAST(776980337 AS BIGINT) * x + 1458115296) % 2147483647)) AS s4,
         list_min(list_transform(h, x -> (CAST(823213523 AS BIGINT) * x + 379243596) % 2147483647)) AS s5,
         list_min(list_transform(h, x -> (CAST(734770035 AS BIGINT) * x + 1779385637) % 2147483647)) AS s6,
         list_min(list_transform(h, x -> (CAST(1034518267 AS BIGINT) * x + 1822842404) % 2147483647)) AS s7
  FROM hs
),
bkt AS (
            SELECT doc_id, 0 AS band, s0 AS k0, s1 AS k1 FROM sig
  UNION ALL SELECT doc_id, 1, s2, s3 FROM sig
  UNION ALL SELECT doc_id, 2, s4, s5 FROM sig
  UNION ALL SELECT doc_id, 3, s6, s7 FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bkt a JOIN bkt b
    ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
   AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(len(list_intersect(ha.h, hb.h)) AS DOUBLE)
               / (len(ha.h) + len(hb.h) - len(list_intersect(ha.h, hb.h))),
               4) AS jaccard
  FROM cand
  JOIN hs ha ON ha.doc_id = doc_a
  JOIN hs hb ON hb.doc_id = doc_b
)
SELECT doc_a, doc_b, jaccard FROM scored
WHERE jaccard >= 0.5
ORDER BY doc_a, doc_b
""",
        # sequential Poisson sampling (Ohlsson 1998): u from the md5
        # hex-fold of doc_id:seed, selection key floor(u/w * 1e12) --
        # +, /, floor only, all IEEE-correctly-rounded hence
        # bit-identical cross-engine (no transcendental in the chain)
        "weighted_sample": """
WITH tok AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> t <> '')) AS BIGINT) AS weight
  FROM documents
),
pri AS (
  SELECT doc_id, weight,
         CAST(FLOOR(
           ((CAST(list_sum(list_transform(range(1, 9), i ->
               (strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || ':7'),
                              CAST(i AS INT), 1)) - 1)
               * power(16, 8 - i))) AS BIGINT) + 0.5) / 4294967296.0)
           / CAST(weight AS DOUBLE) * 1e12) AS BIGINT) AS priority_e12
  FROM tok WHERE weight > 0
)
SELECT doc_id, weight, priority_e12
FROM pri ORDER BY priority_e12, doc_id LIMIT 100
""",
        # hash-based stratified Bernoulli: md5-bucket(doc_id:42) % 100
        # under per-stratum percentages (en 50, rest 100) -- the
        # dataset_split idiom as a sampler
        "stratified_sample": """
WITH b AS (
  SELECT lang,
         CAST(list_sum(list_transform(range(1, 9), i ->
             (strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR) || ':42'),
                            CAST(i AS INT), 1)) - 1)
             * power(16, 8 - i))) AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM b
WHERE bucket < (CASE WHEN lang = 'en' THEN 50 ELSE 100 END)
GROUP BY 1 ORDER BY 1
""",
        # pinned sign-RP ANN: projection coefficients derived from
        # md5(rp:t:p:dim) % 19 - 9 over range(1024), 4 tables x 4 sign
        # planes, candidates share the query bucket in any table, exact
        # quantized-BIGINT cosine re-rank (int8_cosine_topk precedent)
        "ann_topk": _ANN_TOPK_SQL,
        # MMR diverse top-10: the 10 greedy steps unrolled as
        # MATERIALIZED CTEs (the copurchase_kcore_hist deep-CTE
        # lesson); every compared score is one divide + one sqrt from
        # exact BIGINT dots, so selection is cross-engine exact
        "mmr_diverse_topk": """
WITH ex AS MATERIALIZED (
  SELECT vec_id, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
qd AS (SELECT dim, q AS d FROM ex WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         CAST(SUM(e.q * qd.d) AS BIGINT) AS dot_q,
         CAST(SUM(e.q * e.q) AS BIGINT) AS nq,
         CAST(SUM(qd.d * qd.d) AS BIGINT) AS nd
  FROM ex e JOIN qd ON qd.dim = e.dim GROUP BY 1
),
pool AS MATERIALIZED (
  SELECT vec_id, nq,
         CAST(dot_q AS DOUBLE)
         / SQRT(CAST(nq AS DOUBLE) * CAST(nd AS DOUBLE)) AS rel
  FROM scored
  WHERE nq > 0 AND nd > 0  -- zero-norm guard, mirrored from the Spark plan
  ORDER BY CAST(dot_q AS DOUBLE)
           / SQRT(CAST(nq AS DOUBLE) * CAST(nd AS DOUBLE)) DESC, vec_id
  LIMIT 50
),
pex AS (SELECT e.vec_id, e.dim, e.q FROM ex e JOIN pool p ON p.vec_id = e.vec_id),
sims AS MATERIALIZED (
  SELECT a.vec_id AS i, b.vec_id AS j,
         CAST(SUM(a.q * b.q) AS DOUBLE)
         / SQRT(CAST(pa.nq AS DOUBLE) * CAST(pb.nq AS DOUBLE)) AS sim
  FROM pex a JOIN pex b ON a.dim = b.dim AND a.vec_id <> b.vec_id
  JOIN pool pa ON pa.vec_id = a.vec_id
  JOIN pool pb ON pb.vec_id = b.vec_id
  GROUP BY a.vec_id, b.vec_id, pa.nq, pb.nq
),
p1 AS MATERIALIZED (
  SELECT vec_id, rel, 0.7 * rel - 0.3 * 0.0 AS mmr
  FROM pool ORDER BY mmr DESC, vec_id LIMIT 1
),
p2 AS MATERIALIZED (
  SELECT pool.vec_id, pool.rel,
         0.7 * pool.rel - 0.3 * (SELECT MAX(s.sim) FROM sims s
                                 WHERE s.i = pool.vec_id
                                   AND s.j IN (SELECT vec_id FROM p1)) AS mmr
  FROM pool
  WHERE pool.vec_id NOT IN (SELECT vec_id FROM p1)
  ORDER BY mmr DESC, pool.vec_id LIMIT 1
),
p3 AS MATERIALIZED (
  SELECT pool.vec_id, pool.rel,
         0.7 * pool.rel - 0.3 * (SELECT MAX(s.sim) FROM sims s
                                 WHERE s.i = pool.vec_id
                                   AND s.j IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2)) AS mmr
  FROM pool
  WHERE pool.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2)
  ORDER BY mmr DESC, pool.vec_id LIMIT 1
),
p4 AS MATERIALIZED (
  SELECT pool.vec_id, pool.rel,
         0.7 * pool.rel - 0.3 * (SELECT MAX(s.sim) FROM sims s
                                 WHERE s.i = pool.vec_id
                                   AND s.j IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3)) AS mmr
  FROM pool
  WHERE pool.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3)
  ORDER BY mmr DESC, pool.vec_id LIMIT 1
),
p5 AS MATERIALIZED (
  SELECT pool.vec_id, pool.rel,
         0.7 * pool.rel - 0.3 * (SELECT MAX(s.sim) FROM sims s
                                 WHERE s.i = pool.vec_id
                                   AND s.j IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4)) AS mmr
  FROM pool
  WHERE pool.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4)
  ORDER BY mmr DESC, pool.vec_id LIMIT 1
),
p6 AS MATERIALIZED (
  SELECT pool.vec_id, pool.rel,
         0.7 * pool.rel - 0.3 * (SELECT MAX(s.sim) FROM sims s
                                 WHERE s.i = pool.vec_id
                                   AND s.j IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5)) AS mmr
  FROM pool
  WHERE pool.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5)
  ORDER BY mmr DESC, pool.vec_id LIMIT 1
),
p7 AS MATERIALIZED (
  SELECT pool.vec_id, pool.rel,
         0.7 * pool.rel - 0.3 * (SELECT MAX(s.sim) FROM sims s
                                 WHERE s.i = pool.vec_id
                                   AND s.j IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6)) AS mmr
  FROM pool
  WHERE pool.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6)
  ORDER BY mmr DESC, pool.vec_id LIMIT 1
),
p8 AS MATERIALIZED (
  SELECT pool.vec_id, pool.rel,
         0.7 * pool.rel - 0.3 * (SELECT MAX(s.sim) FROM sims s
                                 WHERE s.i = pool.vec_id
                                   AND s.j IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7)) AS mmr
  FROM pool
  WHERE pool.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7)
  ORDER BY mmr DESC, pool.vec_id LIMIT 1
),
p9 AS MATERIALIZED (
  SELECT pool.vec_id, pool.rel,
         0.7 * pool.rel - 0.3 * (SELECT MAX(s.sim) FROM sims s
                                 WHERE s.i = pool.vec_id
                                   AND s.j IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8)) AS mmr
  FROM pool
  WHERE pool.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8)
  ORDER BY mmr DESC, pool.vec_id LIMIT 1
),
p10 AS MATERIALIZED (
  SELECT pool.vec_id, pool.rel,
         0.7 * pool.rel - 0.3 * (SELECT MAX(s.sim) FROM sims s
                                 WHERE s.i = pool.vec_id
                                   AND s.j IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8 UNION ALL SELECT vec_id FROM p9)) AS mmr
  FROM pool
  WHERE pool.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4 UNION ALL SELECT vec_id FROM p5 UNION ALL SELECT vec_id FROM p6 UNION ALL SELECT vec_id FROM p7 UNION ALL SELECT vec_id FROM p8 UNION ALL SELECT vec_id FROM p9)
  ORDER BY mmr DESC, pool.vec_id LIMIT 1
)
SELECT 1 AS rank, vec_id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score FROM p1
UNION ALL SELECT 2 AS rank, vec_id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score FROM p2
UNION ALL SELECT 3 AS rank, vec_id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score FROM p3
UNION ALL SELECT 4 AS rank, vec_id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score FROM p4
UNION ALL SELECT 5 AS rank, vec_id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score FROM p5
UNION ALL SELECT 6 AS rank, vec_id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score FROM p6
UNION ALL SELECT 7 AS rank, vec_id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score FROM p7
UNION ALL SELECT 8 AS rank, vec_id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score FROM p8
UNION ALL SELECT 9 AS rank, vec_id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score FROM p9
UNION ALL SELECT 10 AS rank, vec_id, ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score FROM p10
ORDER BY rank
""",
        # IVF serve path under the pinned seed quantizer (the
        # pq_adc_topk playbook): assign argmin, probe selection, and
        # candidate re-rank all exact integer arithmetic
        "ivf_topk": _IVF_TOPK_SQL,
        # pinned sign-RP near-dup: 6 tables x 3 planes from
        # md5(nd:t:p:dim), exact quantized-BIGINT cosine verify
        "embed_neardup_lsh": """
WITH ex AS MATERIALIZED (
  SELECT vec_id, CAST(i AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
proj AS (
  SELECT CAST(FLOOR(r / 192.0) AS BIGINT) AS t,
         CAST(FLOOR(r / 64.0) AS BIGINT) % 3 AS p,
         r % 64 + 1 AS dim,
         CAST(list_sum(list_transform(range(1, 9), i ->
             (strpos('0123456789abcdef',
                     substr(md5('nd:' || CAST(CAST(FLOOR(r / 192.0) AS BIGINT) AS VARCHAR)
                                || ':' || CAST(CAST(FLOOR(r / 64.0) AS BIGINT) % 3 AS VARCHAR)
                                || ':' || CAST(r % 64 + 1 AS VARCHAR)),
                            CAST(i AS INT), 1)) - 1)
             * power(16, 8 - i))) AS BIGINT) % 19 - 9 AS c
  FROM (SELECT unnest(range(0, 1152)) AS r)
),
sums AS (
  SELECT e.vec_id, pr.t, pr.p, SUM(pr.c * e.q) AS s
  FROM ex e JOIN proj pr ON pr.dim = e.dim
  GROUP BY 1, 2, 3
),
sigs AS (
  SELECT vec_id, t,
         SUM(CASE WHEN s >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS bucket
  FROM sums GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN sigs b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
norms AS (
  SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM ex GROUP BY 1
),
dots AS (
  SELECT c.vec_a, c.vec_b, CAST(SUM(ea.q * eb.q) AS BIGINT) AS dot
  FROM cand c
  JOIN ex ea ON ea.vec_id = c.vec_a
  JOIN ex eb ON eb.vec_id = c.vec_b AND eb.dim = ea.dim
  GROUP BY 1, 2
),
scored AS (
  SELECT d.vec_a, d.vec_b,
         ROUND(CAST(d.dot AS DOUBLE)
               / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) AS cos_sim
  FROM dots d
  JOIN norms na ON na.vec_id = d.vec_a
  JOIN norms nb ON nb.vec_id = d.vec_b
)
SELECT vec_a, vec_b, cos_sim FROM scored
WHERE cos_sim >= 0.45
ORDER BY vec_a, vec_b
""",
        # unweighted-graph coreness: the kcore_hist fixed-round
        # contract at budget 40 (probed horizons 10/19/38)
        "copurchase_kcore": """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs UNION SELECT pb, pa FROM pairs),
h0 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS c FROM edges GROUP BY src),
h1 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h0 h ON h.node = e.dst
  ) GROUP BY src
),
h2 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h1 h ON h.node = e.dst
  ) GROUP BY src
),
h3 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h2 h ON h.node = e.dst
  ) GROUP BY src
),
h4 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h3 h ON h.node = e.dst
  ) GROUP BY src
),
h5 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h4 h ON h.node = e.dst
  ) GROUP BY src
),
h6 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h5 h ON h.node = e.dst
  ) GROUP BY src
),
h7 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h6 h ON h.node = e.dst
  ) GROUP BY src
),
h8 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h7 h ON h.node = e.dst
  ) GROUP BY src
),
h9 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h8 h ON h.node = e.dst
  ) GROUP BY src
),
h10 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h9 h ON h.node = e.dst
  ) GROUP BY src
),
h11 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h10 h ON h.node = e.dst
  ) GROUP BY src
),
h12 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h11 h ON h.node = e.dst
  ) GROUP BY src
),
h13 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h12 h ON h.node = e.dst
  ) GROUP BY src
),
h14 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h13 h ON h.node = e.dst
  ) GROUP BY src
),
h15 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h14 h ON h.node = e.dst
  ) GROUP BY src
),
h16 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h15 h ON h.node = e.dst
  ) GROUP BY src
),
h17 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h16 h ON h.node = e.dst
  ) GROUP BY src
),
h18 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h17 h ON h.node = e.dst
  ) GROUP BY src
),
h19 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h18 h ON h.node = e.dst
  ) GROUP BY src
),
h20 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h19 h ON h.node = e.dst
  ) GROUP BY src
),
h21 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h20 h ON h.node = e.dst
  ) GROUP BY src
),
h22 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h21 h ON h.node = e.dst
  ) GROUP BY src
),
h23 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h22 h ON h.node = e.dst
  ) GROUP BY src
),
h24 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h23 h ON h.node = e.dst
  ) GROUP BY src
),
h25 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h24 h ON h.node = e.dst
  ) GROUP BY src
),
h26 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h25 h ON h.node = e.dst
  ) GROUP BY src
),
h27 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h26 h ON h.node = e.dst
  ) GROUP BY src
),
h28 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h27 h ON h.node = e.dst
  ) GROUP BY src
),
h29 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h28 h ON h.node = e.dst
  ) GROUP BY src
),
h30 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h29 h ON h.node = e.dst
  ) GROUP BY src
),
h31 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h30 h ON h.node = e.dst
  ) GROUP BY src
),
h32 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h31 h ON h.node = e.dst
  ) GROUP BY src
),
h33 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h32 h ON h.node = e.dst
  ) GROUP BY src
),
h34 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h33 h ON h.node = e.dst
  ) GROUP BY src
),
h35 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h34 h ON h.node = e.dst
  ) GROUP BY src
),
h36 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h35 h ON h.node = e.dst
  ) GROUP BY src
),
h37 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h36 h ON h.node = e.dst
  ) GROUP BY src
),
h38 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h37 h ON h.node = e.dst
  ) GROUP BY src
),
h39 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h38 h ON h.node = e.dst
  ) GROUP BY src
),
h40 AS MATERIALIZED (
  SELECT src AS node, MAX(LEAST(rn, nb)) AS c FROM (
    SELECT e.src, h.c AS nb,
           CAST(ROW_NUMBER() OVER (PARTITION BY e.src
                                   ORDER BY h.c DESC, e.dst) AS BIGINT) AS rn
    FROM edges e JOIN h39 h ON h.node = e.dst
  ) GROUP BY src
)
SELECT c AS coreness, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM h40 GROUP BY 1 ORDER BY 1
""",
        # deterministic synchronous LPA, already fixed-round (8): the 8
        # plurality rounds unrolled as MATERIALIZED CTEs over the w>=2
        # repeat co-purchase graph
        "copurchase_communities": """
WITH pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.l_orderkey) >= 2
),
und AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs UNION SELECT pb, pa FROM pairs),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
l1 AS MATERIALIZED (
  SELECT node, nb_label AS label FROM (
    SELECT e.src AS node, lb.label AS nb_label,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, lb.label ASC) AS rn
    FROM und e JOIN l0 lb ON lb.node = e.dst
    GROUP BY e.src, lb.label
  ) WHERE rn = 1
),
l2 AS MATERIALIZED (
  SELECT node, nb_label AS label FROM (
    SELECT e.src AS node, lb.label AS nb_label,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, lb.label ASC) AS rn
    FROM und e JOIN l1 lb ON lb.node = e.dst
    GROUP BY e.src, lb.label
  ) WHERE rn = 1
),
l3 AS MATERIALIZED (
  SELECT node, nb_label AS label FROM (
    SELECT e.src AS node, lb.label AS nb_label,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, lb.label ASC) AS rn
    FROM und e JOIN l2 lb ON lb.node = e.dst
    GROUP BY e.src, lb.label
  ) WHERE rn = 1
),
l4 AS MATERIALIZED (
  SELECT node, nb_label AS label FROM (
    SELECT e.src AS node, lb.label AS nb_label,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, lb.label ASC) AS rn
    FROM und e JOIN l3 lb ON lb.node = e.dst
    GROUP BY e.src, lb.label
  ) WHERE rn = 1
),
l5 AS MATERIALIZED (
  SELECT node, nb_label AS label FROM (
    SELECT e.src AS node, lb.label AS nb_label,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, lb.label ASC) AS rn
    FROM und e JOIN l4 lb ON lb.node = e.dst
    GROUP BY e.src, lb.label
  ) WHERE rn = 1
),
l6 AS MATERIALIZED (
  SELECT node, nb_label AS label FROM (
    SELECT e.src AS node, lb.label AS nb_label,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, lb.label ASC) AS rn
    FROM und e JOIN l5 lb ON lb.node = e.dst
    GROUP BY e.src, lb.label
  ) WHERE rn = 1
),
l7 AS MATERIALIZED (
  SELECT node, nb_label AS label FROM (
    SELECT e.src AS node, lb.label AS nb_label,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, lb.label ASC) AS rn
    FROM und e JOIN l6 lb ON lb.node = e.dst
    GROUP BY e.src, lb.label
  ) WHERE rn = 1
),
l8 AS MATERIALIZED (
  SELECT node, nb_label AS label FROM (
    SELECT e.src AS node, lb.label AS nb_label,
           ROW_NUMBER() OVER (PARTITION BY e.src
                              ORDER BY COUNT(*) DESC, lb.label ASC) AS rn
    FROM und e JOIN l7 lb ON lb.node = e.dst
    GROUP BY e.src, lb.label
  ) WHERE rn = 1
),
sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS size FROM l8 GROUP BY 1)
SELECT size, CAST(COUNT(*) AS BIGINT) AS n_communities
FROM sizes GROUP BY 1 ORDER BY 1
""",
        # applyInPandas greedy throttle: the linear recurrence walked
        # by a RECURSIVE CTE carrying the last-kept timestamp per key
        # (the dedup_groups closure precedent); Spark side unchanged
        "alert_throttle": """
WITH RECURSIVE al AS (
  SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                          event_id) AS BIGINT) AS rn
  FROM events WHERE event_type = 'error'
),
scan AS (
  SELECT user_id, event_id, sec, rn, TRUE AS kept, sec AS last_kept
  FROM al WHERE rn = 1
  UNION ALL
  SELECT a.user_id, a.event_id, a.sec, a.rn,
         a.sec - s.last_kept >= 86400 AS kept,
         CASE WHEN a.sec - s.last_kept >= 86400
              THEN a.sec ELSE s.last_kept END AS last_kept
  FROM scan s JOIN al a ON a.user_id = s.user_id AND a.rn = s.rn + 1
)
SELECT user_id, event_id, sec FROM scan
WHERE kept
ORDER BY user_id, sec
""",
        # BPE merge learning, the last "inherently iterative" hold-out,
        # under the fixed-round contract (r14): 16 unrolled rounds,
        # each = weighted adjacent-pair count -> (n DESC, left, right)
        # argmax -> greedy merge. The greedy left-to-right fold IS one
        # replace() over a DOUBLE-separator symbol string
        # ('||s1||s2||...'): leftmost-first non-overlapping matching
        # consumes symbols exactly like the Spark F.aggregate
        # accumulator, and the doubled bars keep abutting matches
        # independent (single bars diverge on runs -- [a x 6] would
        # yield [aa,a,aa,a], not greedy's [aa,aa,aa]). If the vocab
        # runs out of pairs both engines stop at the same round: empty
        # argmax leaves every later CTE empty, mirroring the break.
        "bpe_merges": """
WITH w0 AS MATERIALIZED (
  SELECT '||' || array_to_string(
           list_append(list_transform(range(1, length(word) + 1),
                                      i -> substr(word, CAST(i AS INT), 1)),
                       '</w>'), '||') || '||' AS rep,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t <> '')) AS word FROM documents) t
  GROUP BY 1
),
p1 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w0) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b1 AS MATERIALIZED (
  SELECT 0 AS rank, l, r, l || r AS merged, n
  FROM p1 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w1 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w0 w CROSS JOIN b1 b
),
p2 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w1) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b2 AS MATERIALIZED (
  SELECT 1 AS rank, l, r, l || r AS merged, n
  FROM p2 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w2 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w1 w CROSS JOIN b2 b
),
p3 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w2) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b3 AS MATERIALIZED (
  SELECT 2 AS rank, l, r, l || r AS merged, n
  FROM p3 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w3 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w2 w CROSS JOIN b3 b
),
p4 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w3) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b4 AS MATERIALIZED (
  SELECT 3 AS rank, l, r, l || r AS merged, n
  FROM p4 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w4 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w3 w CROSS JOIN b4 b
),
p5 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w4) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b5 AS MATERIALIZED (
  SELECT 4 AS rank, l, r, l || r AS merged, n
  FROM p5 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w5 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w4 w CROSS JOIN b5 b
),
p6 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w5) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b6 AS MATERIALIZED (
  SELECT 5 AS rank, l, r, l || r AS merged, n
  FROM p6 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w6 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w5 w CROSS JOIN b6 b
),
p7 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w6) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b7 AS MATERIALIZED (
  SELECT 6 AS rank, l, r, l || r AS merged, n
  FROM p7 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w7 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w6 w CROSS JOIN b7 b
),
p8 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w7) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b8 AS MATERIALIZED (
  SELECT 7 AS rank, l, r, l || r AS merged, n
  FROM p8 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w8 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w7 w CROSS JOIN b8 b
),
p9 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w8) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b9 AS MATERIALIZED (
  SELECT 8 AS rank, l, r, l || r AS merged, n
  FROM p9 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w9 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w8 w CROSS JOIN b9 b
),
p10 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w9) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b10 AS MATERIALIZED (
  SELECT 9 AS rank, l, r, l || r AS merged, n
  FROM p10 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w10 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w9 w CROSS JOIN b10 b
),
p11 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w10) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b11 AS MATERIALIZED (
  SELECT 10 AS rank, l, r, l || r AS merged, n
  FROM p11 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w11 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w10 w CROSS JOIN b11 b
),
p12 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w11) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b12 AS MATERIALIZED (
  SELECT 11 AS rank, l, r, l || r AS merged, n
  FROM p12 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w12 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w11 w CROSS JOIN b12 b
),
p13 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w12) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b13 AS MATERIALIZED (
  SELECT 12 AS rank, l, r, l || r AS merged, n
  FROM p13 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w13 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w12 w CROSS JOIN b13 b
),
p14 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w13) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b14 AS MATERIALIZED (
  SELECT 13 AS rank, l, r, l || r AS merged, n
  FROM p14 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w14 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w13 w CROSS JOIN b14 b
),
p15 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w14) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b15 AS MATERIALIZED (
  SELECT 14 AS rank, l, r, l || r AS merged, n
  FROM p15 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w15 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w14 w CROSS JOIN b15 b
),
p16 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w15) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b16 AS MATERIALIZED (
  SELECT 15 AS rank, l, r, l || r AS merged, n
  FROM p16 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w16 AS MATERIALIZED (
  SELECT replace(w.rep, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS rep, w.freq
  FROM w15 w CROSS JOIN b16 b
)
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b1
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b2
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b3
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b4
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b5
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b6
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b7
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b8
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b9
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b10
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b11
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b12
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b13
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b14
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b15
UNION ALL
SELECT CAST(rank AS INT) AS rank, l AS left, r AS right, merged, n AS pair_freq FROM b16
ORDER BY rank
""",
        # the BPE APPLY path under the same 16-round unroll: the chain
        # carries `word` (word -> symbol-string is injective, so
        # grouping by word == grouping by rep), each apply round is a
        # LEFT JOIN ON TRUE + COALESCE so an exhausted argmax leaves an
        # identity round instead of emptying the vocabulary, and the
        # final vocab CTE yields per-word subword counts (n_sub =
        # symbols in the final rep; n_chars = word length, since the
        # subword concatenation is word + '</w>') joined back to the
        # per-(source, word) occurrence table
        "bpe_compression_by_source": """
WITH w0 AS MATERIALIZED (
  SELECT word,
         '||' || array_to_string(
           list_append(list_transform(range(1, length(word) + 1),
                                      i -> substr(word, CAST(i AS INT), 1)),
                       '</w>'), '||') || '||' AS rep,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t <> '')) AS word FROM documents) t
  GROUP BY 1
),
p1 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w0) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b1 AS MATERIALIZED (
  SELECT l, r FROM p1 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w1 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w0 w LEFT JOIN b1 b ON TRUE
),
p2 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w1) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b2 AS MATERIALIZED (
  SELECT l, r FROM p2 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w2 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w1 w LEFT JOIN b2 b ON TRUE
),
p3 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w2) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b3 AS MATERIALIZED (
  SELECT l, r FROM p3 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w3 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w2 w LEFT JOIN b3 b ON TRUE
),
p4 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w3) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b4 AS MATERIALIZED (
  SELECT l, r FROM p4 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w4 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w3 w LEFT JOIN b4 b ON TRUE
),
p5 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w4) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b5 AS MATERIALIZED (
  SELECT l, r FROM p5 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w5 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w4 w LEFT JOIN b5 b ON TRUE
),
p6 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w5) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b6 AS MATERIALIZED (
  SELECT l, r FROM p6 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w6 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w5 w LEFT JOIN b6 b ON TRUE
),
p7 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w6) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b7 AS MATERIALIZED (
  SELECT l, r FROM p7 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w7 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w6 w LEFT JOIN b7 b ON TRUE
),
p8 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w7) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b8 AS MATERIALIZED (
  SELECT l, r FROM p8 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w8 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w7 w LEFT JOIN b8 b ON TRUE
),
p9 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w8) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b9 AS MATERIALIZED (
  SELECT l, r FROM p9 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w9 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w8 w LEFT JOIN b9 b ON TRUE
),
p10 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w9) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b10 AS MATERIALIZED (
  SELECT l, r FROM p10 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w10 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w9 w LEFT JOIN b10 b ON TRUE
),
p11 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w10) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b11 AS MATERIALIZED (
  SELECT l, r FROM p11 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w11 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w10 w LEFT JOIN b11 b ON TRUE
),
p12 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w11) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b12 AS MATERIALIZED (
  SELECT l, r FROM p12 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w12 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w11 w LEFT JOIN b12 b ON TRUE
),
p13 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w12) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b13 AS MATERIALIZED (
  SELECT l, r FROM p13 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w13 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w12 w LEFT JOIN b13 b ON TRUE
),
p14 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w13) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b14 AS MATERIALIZED (
  SELECT l, r FROM p14 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w14 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w13 w LEFT JOIN b14 b ON TRUE
),
p15 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w14) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b15 AS MATERIALIZED (
  SELECT l, r FROM p15 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w15 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w14 w LEFT JOIN b15 b ON TRUE
),
p16 AS MATERIALIZED (
  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM (SELECT string_split(substr(rep, 3, length(rep) - 4), '||') AS syms,
               freq FROM w15) s,
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b16 AS MATERIALIZED (
  SELECT l, r FROM p16 ORDER BY n DESC, l ASC, r ASC LIMIT 1
),
w16 AS MATERIALIZED (
  SELECT w.word,
         COALESCE(replace(w.rep, '|' || b.l || '||' || b.r || '|',
                          '|' || b.l || b.r || '|'), w.rep) AS rep,
         w.freq
  FROM w15 w LEFT JOIN b16 b ON TRUE
),
sub AS (
  SELECT word,
         CAST(len(string_split(substr(rep, 3, length(rep) - 4), '||'))
              AS BIGINT) AS n_sub,
         CAST(length(word) AS BIGINT) AS n_chars
  FROM w16
),
occ AS (
  SELECT source, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                    t -> t <> '')) AS word
  FROM documents
)
SELECT o.source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(s.n_sub) AS BIGINT) AS n_subwords,
       ROUND(CAST(SUM(s.n_sub) AS DOUBLE) / COUNT(*), 6)
         AS subwords_per_word,
       ROUND(CAST(SUM(s.n_sub) AS DOUBLE) / CAST(SUM(s.n_chars) AS DOUBLE), 6)
         AS subwords_per_char
FROM occ o JOIN sub s USING (word)
GROUP BY o.source
ORDER BY o.source
""",
        # --- round-14 conversions (r13 verdict item #5) ----------------
        # recall@10 of the pinned ANN rungs: composed from the four
        # component oracles (embedded as subqueries above)
        "ann_recall": _ANN_RECALL_SQL,
        # perceptual image near-dup: DuckDB cannot decode PNG, but it
        # does not need to -- with_test_images_textured's pixels are a
        # pure integer formula of (doc_id, y, x), so the oracle
        # recomputes the SAME pixels analytically, folds the SAME
        # all-integer 8x8 aHash (block rows = [i*h//8, (i+1)*h//8), so
        # y's block is (8y+7)//h -- NOT the synthesizer's perturbation
        # grid y*8//h, which is a different partition), and verifies
        # the Spark side's actual PNG encode -> zlib decode -> pixel
        # walk end to end: a single wrong byte anywhere in the codec
        # path hash-mismatches. Pairs are brute-force hamming <= 3
        # (the pigeonhole banding has recall exactly 1.0 there, so
        # candidates == qualifying pairs by theorem).
        "image_phash_neardup": """
WITH dims AS (
  SELECT doc_id, doc_id // 10 AS fam, doc_id % 10 AS m,
         (doc_id // 10) % 61 + 8 AS w, ((doc_id // 10) * 13) % 47 + 8 AS h,
         (doc_id % 10) % 8 AS by, ((doc_id % 10) * 3) % 8 AS bx
  FROM documents
),
px AS (
  SELECT doc_id, w, h,
         CAST(uy.y AS BIGINT) AS y, CAST(ux.x AS BIGINT) AS x,
         CASE WHEN (y * 8) // h = by AND (x * 8) // w = bx
              THEN ((fam*37 + y*y*3 + x*x*5 + ((y*x) % 7) * 11) % 256 + 128) % 256
              ELSE (fam*37 + y*y*3 + x*x*5 + ((y*x) % 7) * 11) % 256 END AS v
  FROM dims, unnest(range(0, h)) AS uy(y), unnest(range(0, w)) AS ux(x)
),
blocks AS (
  SELECT doc_id, (8*y + 7) // h AS bi, (8*x + 7) // w AS bj,
         SUM(v) // COUNT(*) AS b
  FROM px GROUP BY 1, 2, 3
),
tot AS (SELECT doc_id, SUM(b) AS total FROM blocks GROUP BY 1),
sigparts AS (
  SELECT b.doc_id,
         SUM(CASE WHEN b.b * 64 > t.total AND 63 - (b.bi*8+b.bj) < 32
                  THEN CAST(power(2, 63 - (b.bi*8+b.bj)) AS BIGINT) ELSE 0 END) AS sig_lo,
         SUM(CASE WHEN b.b * 64 > t.total AND 63 - (b.bi*8+b.bj) >= 32
                  THEN CAST(power(2, 31 - (b.bi*8+b.bj)) AS BIGINT) ELSE 0 END) AS sig_hi
  FROM blocks b JOIN tot t USING (doc_id) GROUP BY 1
),
sh AS (
  SELECT doc_id,
         CAST(CASE WHEN sig_hi >= 2147483648
                   THEN (sig_hi - 4294967296) * 4294967296 + sig_lo
                   ELSE sig_hi * 4294967296 + sig_lo END AS BIGINT) AS ahash
  FROM sigparts
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
ORDER BY doc_a, doc_b
""",
    }
