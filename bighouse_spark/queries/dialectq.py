"""Driver-checkable round-trips THROUGH the ClickHouse-dialect
frontend: each query here is written in CH SQL, transpiled, and
executed by Spark, with a DuckDB oracle in plain ANSI SQL — so the
dialect rewrite layer itself (renames, combinators, parametrics,
contextual rewrites) gets rows+schema+hash driver verification, not
just unit tests on the rewritten text.

The fixture view is registered under a query-local name to avoid
colliding with attached tables in a shared session.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bighouse_spark.dialect.transpile import transpile
from bighouse_spark.queries.registry import query, t


def _ch(spark, sf_dir, table: str, view: str, ch_sql: str):
    t(spark, sf_dir, table).createOrReplaceTempView(view)
    return spark.sql(transpile(ch_sql, spark).sql)


# CH spellings exercised: count(), countIf, sumIf, any, uniqExact,
# if(), toStartOfMonth — the reference's dashboard-query vocabulary.
@query(
    "dialect_agg_roundtrip",
    oracle="""
SELECT event_type,
       count(*) AS n,
       count(*) FILTER (WHERE value > 0.5) AS n_big,
       CAST(sum(CAST(value AS DECIMAL(18,4))) FILTER (WHERE value > 0.5)
            AS DOUBLE) AS sum_big,
       count(DISTINCT user_id) AS uniq_users
FROM events GROUP BY event_type
""",
)
def dialect_agg_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events",
        """
        SELECT event_type,
               count() AS n,
               countIf(value > 0.5) AS n_big,
               CAST(sumIf(CAST(value AS DECIMAL(18,4)), value > 0.5)
                    AS DOUBLE) AS sum_big,
               uniqExact(user_id) AS uniq_users
        FROM __dq_events GROUP BY event_type
        """,
    )


# topK exact twin + position/extract/range contextual rewrites, all
# flowing through one CH query; DuckDB recomputes the top-3 most
# frequent event types (ties asc) with window SQL.
@query(
    "dialect_topk_roundtrip",
    oracle="""
WITH c AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY event_type
), r AS (
  SELECT event_type,
         row_number() OVER (ORDER BY n DESC, event_type ASC) AS rn
  FROM c
)
SELECT array_to_string(list(event_type ORDER BY rn), ',') AS top3,
       CAST(3 AS BIGINT) AS n_top
FROM r WHERE rn <= 3
""",
)
def dialect_topk_roundtrip(spark, sf_dir):
    out = _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_tk",
        "SELECT topK(3)(event_type) AS topk FROM __dq_events_tk",
    )
    return out.select(
        F.array_join("topk", ",").alias("top3"),
        F.size("topk").cast("bigint").alias("n_top"),
    )


# LIMIT BY + ORDER BY through the dialect: top-2 orders by price per
# priority class (deterministic tiebreak on o_orderkey).
@query(
    "dialect_limit_by_roundtrip",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC)
           AS rn
  FROM orders
) WHERE rn <= 2
""",
)
def dialect_limit_by_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders",
        """
        SELECT o_orderpriority, o_orderkey, o_totalprice
        FROM __dq_orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 2 BY o_orderpriority
        """,
    )


# ARRAY JOIN clause + splitByChar through the dialect: word
# frequencies over the documents table, the CH spelling of
# explode_word_freq. Deterministic top-10 (count desc, word asc).
@query(
    "dialect_array_join_roundtrip",
    oracle="""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT word, count(*) AS n FROM w GROUP BY word
ORDER BY n DESC, word ASC LIMIT 10
""",
)
def dialect_array_join_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "documents",
        "__dq_docs",
        """
        SELECT word, count() AS n
        FROM (SELECT splitByChar(' ', text) AS ws FROM __dq_docs)
        ARRAY JOIN ws AS word
        GROUP BY word
        ORDER BY n DESC, word ASC
        LIMIT 10
        """,
    )


# ORDER BY ... WITH FILL through the transpiler: gap-filled daily
# order counts; DuckDB rebuilds the spine with generate_series.
@query(
    "dialect_with_fill_roundtrip",
    oracle="""
WITH agg AS (
  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
  FROM orders WHERE o_orderdate < '1995-03-01' GROUP BY d
), spine AS (
  SELECT CAST(unnest(generate_series(
           (SELECT min(d) FROM agg), (SELECT max(d) FROM agg),
           INTERVAL 1 DAY)) AS DATE) AS d
)
SELECT spine.d, coalesce(agg.n, 0) AS n
FROM spine LEFT JOIN agg USING (d) ORDER BY spine.d
""",
)
def dialect_with_fill_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_wf",
        """
        SELECT toDate(o_orderdate) AS d, count() AS n
        FROM __dq_orders_wf WHERE o_orderdate < '1995-03-01'
        GROUP BY d ORDER BY d WITH FILL
        """,
    )


# LIMIT n WITH TIES through the transpiler; DuckDB recomputes the
# tie-preserving top-3 with a rank window.
@query(
    "dialect_limit_ties_roundtrip",
    oracle="""
WITH c AS (
  SELECT CAST(l_quantity AS INT) AS q, count(*) AS n
  FROM lineitem GROUP BY q
), r AS (SELECT q, n, rank() OVER (ORDER BY n DESC) AS rk FROM c)
SELECT q, n FROM r WHERE rk <= 3
""",
)
def dialect_limit_ties_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "lineitem",
        "__dq_lineitem_wt",
        """
        SELECT CAST(l_quantity AS INT) AS q, count() AS n
        FROM __dq_lineitem_wt GROUP BY q
        ORDER BY n DESC LIMIT 3 WITH TIES
        """,
    )


# ASOF JOIN through the transpiler: each purchase matched to the
# user's latest view at-or-before it; integer-ms lag sums keep the
# comparison exact. DuckDB recomputes via max-over-range + self-join.
@query(
    "dialect_asof_roundtrip",
    oracle="""
WITH v AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
), p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT p.event_id, p.ts, max(v.ts) AS vts
  FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
  GROUP BY p.event_id, p.ts
)
SELECT CAST(count(*) AS BIGINT) AS n_matched,
       CAST(sum(epoch_ms(ts) - epoch_ms(vts)) AS BIGINT) AS lag_ms
FROM m
""",
)
def dialect_asof_roundtrip(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    ev.where(F.col("event_type") == "view").select(
        "user_id", "ts"
    ).createOrReplaceTempView("__dq_asof_v")
    ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("__dq_asof_p")
    from bighouse_spark.dialect.transpile import transpile as _tp

    r = _tp(
        """
        SELECT CAST(count() AS BIGINT) AS n_matched,
               CAST(sum(unix_millis(p.ts) - unix_millis(v.ts)) AS BIGINT)
                 AS lag_ms
        FROM __dq_asof_p AS p ASOF JOIN __dq_asof_v AS v
          ON p.user_id = v.user_id AND p.ts >= v.ts
        """,
        spark,
    )
    return spark.sql(r.sql)


# Round-5 frontend features under oracle check: CH type names inside
# standard casts (CAST AS Int64 / ::Float64 — round-5 rewrite), the
# IPv4 codec + CIDR containment math, and the AES round-trip. DuckDB
# recomputes the IP arithmetic from first principles (shift/mask on
# the same integers), so the dotted-quad rendering and in-range rule
# get value-level verification, not just unit tests.
@query(
    "dialect_cast_types_roundtrip",
    oracle="""
SELECT l_returnflag AS flag,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_int,
       CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax_sum,
       max(CAST(l_orderkey AS BIGINT)) AS max_key
FROM lineitem GROUP BY l_returnflag ORDER BY flag
""",
)
def dialect_cast_types_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "lineitem",
        "__dq_li_cast",
        """
        SELECT l_returnflag AS flag,
               sum(CAST(l_quantity AS Int64)) AS qty_int,
               CAST(sum(l_tax :: Decimal(18,2)) AS Float64) AS tax_sum,
               max(l_orderkey :: Int64) AS max_key
        FROM __dq_li_cast GROUP BY flag ORDER BY flag
        """,
    )


@query(
    "dialect_ipv4_roundtrip",
    oracle="""
SELECT o_orderkey AS k,
       concat(
         CAST((o_orderkey >> 24) & 255 AS VARCHAR), '.',
         CAST((o_orderkey >> 16) & 255 AS VARCHAR), '.',
         CAST((o_orderkey >> 8) & 255 AS VARCHAR), '.',
         CAST(o_orderkey & 255 AS VARCHAR)) AS ip,
       (o_orderkey >> 5) = 1 AS in_slash27,
       concat_ws(':',
         lpad(lower(to_hex((o_orderkey >> 40) & 255)), 2, '0'),
         lpad(lower(to_hex((o_orderkey >> 32) & 255)), 2, '0'),
         lpad(lower(to_hex((o_orderkey >> 24) & 255)), 2, '0'),
         lpad(lower(to_hex((o_orderkey >> 16) & 255)), 2, '0'),
         lpad(lower(to_hex((o_orderkey >> 8) & 255)), 2, '0'),
         lpad(lower(to_hex(o_orderkey & 255)), 2, '0')) AS mac
FROM orders WHERE o_orderkey <= 100 ORDER BY k
""",
)
def dialect_ipv4_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_ord_ip",
        """
        SELECT o_orderkey AS k,
               IPv4NumToString(o_orderkey) AS ip,
               isIPAddressInRange(IPv4NumToString(o_orderkey),
                                  '0.0.0.32/27') AS in_slash27,
               MACNumToString(o_orderkey) AS mac
        FROM __dq_ord_ip WHERE o_orderkey <= 100 ORDER BY k
        """,
    )


@query(
    "dialect_crypto_roundtrip",
    oracle="""
SELECT doc_id, true AS ok, substring(text, 1, 48) AS head
FROM documents ORDER BY doc_id LIMIT 50
""",
)
def dialect_crypto_roundtrip(spark, sf_dir):
    # decrypt(encrypt(x)) == x proves the cipher pair end-to-end; the
    # oracle pins which rows were checked (ids + plaintext heads).
    return _ch(
        spark,
        sf_dir,
        "documents",
        "__dq_doc_aes",
        """
        SELECT doc_id,
               decrypt('aes-128-ecb',
                       encrypt('aes-128-ecb', substring(text, 1, 48),
                               'k0123456789abcde'),
                       'k0123456789abcde') = substring(text, 1, 48) AS ok,
               substring(text, 1, 48) AS head
        FROM __dq_doc_aes ORDER BY doc_id LIMIT 50
        """,
    )


# -- round-6 dialect features, driver-checkable -----------------------

# Tuple-IN expansion: Spark's struct IN demands exact element types,
# so the dialect expands (a, b) IN ((..), ..) field-wise; DuckDB
# evaluates the tuple IN natively — same rows proves the expansion.
@query(
    "dialect_tuple_in_roundtrip",
    oracle="""
SELECT o_orderpriority, count(*) AS n
FROM orders
WHERE (o_orderpriority, o_orderstatus) IN
      (('1-URGENT', 'O'), ('2-HIGH', 'F'), ('5-LOW', 'P'))
GROUP BY o_orderpriority
""",
)
def dialect_tuple_in_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_tin",
        """
        SELECT o_orderpriority, count() AS n
        FROM __dq_orders_tin
        WHERE (o_orderpriority, o_orderstatus) IN
              (('1-URGENT', 'O'), ('2-HIGH', 'F'), ('5-LOW', 'P'))
        GROUP BY o_orderpriority
        """,
    )


# sumMap over a Map column: per-key sums across the group, keys
# sorted — keys/values flattened to comma-joined STRINGS, because the
# driver's pandas canonicalizer sort_values() cannot factorize list
# cells (unhashable) — same constraint queries/aggregates.py flattens
# agg_collect_sorted for. Never export Array/Map columns from a
# DRIVER_WINDOW query (lint: tests/test_queries_oracle.py).
@query(
    "dialect_summap_roundtrip",
    oracle="""
WITH c AS (
  SELECT user_id % 10 AS g, event_type, count(*) AS n
  FROM events GROUP BY user_id % 10, event_type
)
SELECT g,
       array_to_string(list(event_type ORDER BY event_type), ',') AS ks,
       array_to_string(list(CAST(n AS VARCHAR) ORDER BY event_type),
                       ',') AS vs
FROM c GROUP BY g
""",
)
def dialect_summap_roundtrip(spark, sf_dir):
    out = _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_sm",
        """
        SELECT user_id % 10 AS g,
               sumMap(map(event_type, 1)) AS m
        FROM __dq_events_sm GROUP BY user_id % 10
        """,
    )
    return out.select(
        "g",
        F.array_join(F.map_keys("m"), ",").alias("ks"),
        F.array_join(
            F.expr(
                "transform(map_values(m), __x -> CAST(__x AS STRING))"
            ),
            ",",
        ).alias("vs"),
    )


# Week-based formatDateTime specs (%G ISO year, %V ISO week) — the
# extract()-composed path — against DuckDB's native isoyear/weekofyear.
@query(
    "dialect_week_format_roundtrip",
    oracle="""
SELECT CAST(isoyear(ts) AS VARCHAR) || '-' ||
       lpad(CAST(weekofyear(ts) AS VARCHAR), 2, '0') AS wk,
       count(*) AS n
FROM events GROUP BY 1
""",
)
def dialect_week_format_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_wk",
        """
        SELECT formatDateTime(ts, '%G-%V') AS wk, count() AS n
        FROM __dq_events_wk GROUP BY wk
        """,
    )


# toRelative{Month,Quarter,Week}Num bucket keys (DateLUT formulas)
# recomputed closed-form by DuckDB.
@query(
    "dialect_relative_num_roundtrip",
    oracle="""
SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
       CAST(year(o_orderdate) * 4 + quarter(o_orderdate) - 1 AS BIGINT) AS q,
       CAST(floor((datediff('day', DATE '1970-01-01', o_orderdate)
                   + 8 - isodow(o_orderdate)) / 7) AS BIGINT) AS w,
       count(*) AS n
FROM orders GROUP BY 1, 2, 3
""",
)
def dialect_relative_num_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_rel",
        """
        SELECT CAST(toRelativeMonthNum(o_orderdate) AS Int64) AS m,
               CAST(toRelativeQuarterNum(o_orderdate) AS Int64) AS q,
               toRelativeWeekNum(o_orderdate) AS w,
               count() AS n
        FROM __dq_orders_rel GROUP BY m, q, w
        """,
    )


# exponentialMovingAverage(h)(v, t): the decayed weighted mean
# anchored at the latest sample, recomputed closed-form by DuckDB
# (weights 2^((t - t_max)/h); 1e-6 rounding per the repo float
# policy).
@query(
    "agg_ema_check",
    oracle="""
WITH e AS (
  SELECT event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
), m AS (
  SELECT event_type, max(t) AS tm FROM e GROUP BY event_type
)
SELECT e.event_type,
       round(sum(e.value * pow(2, (e.t - m.tm) / 3600.0))
             / sum(pow(2, (e.t - m.tm) / 3600.0)), 6) AS ema
FROM e JOIN m ON e.event_type = m.event_type
GROUP BY e.event_type
""",
)
def agg_ema_check(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_ema",
        """
        SELECT event_type,
               round(exponentialMovingAverage(3600)(
                   value, toUnixTimestamp(ts)), 6) AS ema
        FROM __dq_events_ema GROUP BY event_type
        """,
    )


# remote() table-function erasure: the named table on the one warm
# session — DuckDB reads the table directly.
@query(
    "dialect_remote_roundtrip",
    oracle="""
SELECT r_name, CAST(r_regionkey AS BIGINT) AS k
FROM region
""",
)
def dialect_remote_roundtrip(spark, sf_dir):
    t(spark, sf_dir, "region").createOrReplaceTempView("__dq_region_rm")
    from bighouse_spark.dialect.transpile import transpile as _tp

    sql = _tp(
        "SELECT r_name, CAST(r_regionkey AS Int64) AS k "
        "FROM remote('127.0.0.1:9000', default, __dq_region_rm)",
        spark,
    ).sql
    return spark.sql(sql)


# Round-7 probe tranche (VERDICT r6 Next #7): kolmogorovSmirnovTest
# as a real aggregate (O(n) tie-aware pooled-rank fold + asymptotic
# p series), byteSize type-walk, tuple arithmetic expansion. The
# DuckDB oracle recomputes the KS ECDFs from first principles with
# RANGE-frame cumulative counts (ties included by RANGE semantics)
# and the same 100-term Kolmogorov series.
@query(
    "dialect_ks_test_roundtrip",
    oracle="""
WITH s AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i
  FROM events WHERE event_type IN ('purchase', 'click')
), b AS (
  SELECT CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) OVER
           (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT
            ROW) AS DOUBLE) AS c0,
         CAST(sum(CASE WHEN i = 1 THEN 1 ELSE 0 END) OVER
           (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT
            ROW) AS DOUBLE) AS c1
  FROM s
), n AS (
  SELECT CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
         CAST(sum(CASE WHEN i = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1
  FROM s
), ks AS (
  SELECT max(abs(b.c0 / n.n0 - b.c1 / n.n1)) AS d,
         any_value(n.n0) AS n0, any_value(n.n1) AS n1
  FROM b, n
)
SELECT round(d, 9) AS d_stat,
       round(least(1.0, greatest(0.0,
         2 * (SELECT sum(power(-1, k - 1) *
                         exp(-2 * k * k *
                             (ks.d * ks.d * ks.n0 * ks.n1 /
                              (ks.n0 + ks.n1))))
              FROM generate_series(1, 100) AS g(k)))), 6) AS p_val
FROM ks
""",
)
def dialect_ks_test_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_ks",
        """
        SELECT round(__ks.d_statistic, 9) AS d_stat,
               round(__ks.p_value, 6) AS p_val
        FROM (
          SELECT kolmogorovSmirnovTest(
                   value, if(event_type = 'purchase', 1, 0)) AS __ks
          FROM __dq_events_ks
          WHERE event_type IN ('purchase', 'click')
        )
        """,
    )


# byteSize + inline tuple arithmetic, value-verified: byteSize of a
# String is octet_length + 9 (CH String convention), Int64 is 8;
# tuplePlus/MultiplyByNumber expand field-wise over inline tuples.
@query(
    "dialect_bytesize_tuple_roundtrip",
    oracle="""
SELECT n_regionkey AS grp,
       CAST(sum(strlen(n_name) + 9) AS BIGINT) AS name_b,
       CAST(count(*) * 8 AS BIGINT) AS key_b,
       CAST(sum(n_nationkey + 100) AS BIGINT) AS t_plus,
       CAST(sum(n_nationkey * 3) AS BIGINT) AS t_mul
FROM nation GROUP BY n_regionkey ORDER BY grp
""",
)
def dialect_bytesize_tuple_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "nation",
        "__dq_nation_bs",
        """
        SELECT n_regionkey AS grp,
               CAST(sum(byteSize(n_name)) AS Int64) AS name_b,
               CAST(sum(byteSize(CAST(n_nationkey AS Int64)))
                    AS Int64) AS key_b,
               CAST(sum(tupleElement(
                 tuplePlus(tuple(n_nationkey, 0), tuple(100, 0)), 1))
                    AS Int64) AS t_plus,
               CAST(sum(tupleElement(
                 tupleMultiplyByNumber(tuple(n_nationkey, 1), 3), 1))
                    AS Int64) AS t_mul
        FROM __dq_nation_bs GROUP BY grp ORDER BY grp
        """,
    )


# mannWhitneyUTest (round-7): the U statistic is an exact rational of
# tie-run counts, so DuckDB recomputes it from first principles
# (rank() + tie-run averaging). The p-value needs erfc, which DuckDB
# lacks — it is value-verified in pytest against math.erfc
# (tests/test_dialect.py::TestRound7ProbeTranche); the driver row
# proves the rank/tie machinery on real data.
@query(
    "dialect_mwu_roundtrip",
    oracle="""
WITH s AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i
  FROM events WHERE event_type IN ('purchase', 'click')
), r AS (
  SELECT i,
         rank() OVER (ORDER BY v)
           + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS avgrank
  FROM s
), n AS (
  SELECT CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
         CAST(sum(CASE WHEN i = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1
  FROM s
), agg AS (
  SELECT sum(CASE WHEN i = 0 THEN avgrank ELSE 0 END) AS r0 FROM r
)
SELECT round(least(agg.r0 - n.n0 * (n.n0 + 1) / 2,
                   n.n0 * n.n1 -
                   (agg.r0 - n.n0 * (n.n0 + 1) / 2)), 6) AS u_stat,
       CAST(n.n0 AS BIGINT) AS n0,
       CAST(n.n1 AS BIGINT) AS n1
FROM agg, n
""",
)
def dialect_mwu_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_mwu",
        """
        SELECT round(__m.u_statistic, 6) AS u_stat, n0, n1
        FROM (
          SELECT mannWhitneyUTest(
                   value, if(event_type = 'purchase', 1, 0)) AS __m,
                 CAST(countIf(event_type != 'purchase') AS Int64)
                   AS n0,
                 CAST(countIf(event_type = 'purchase') AS Int64)
                   AS n1
          FROM __dq_events_mwu
          WHERE event_type IN ('purchase', 'click')
        )
        """,
    )


# entropy() as a real CH-spelling aggregate (round-7): Shannon
# entropy of the event_type distribution; DuckDB recomputes from
# first principles with the two-level GROUP BY.
@query(
    "dialect_entropy_roundtrip",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY event_type
), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM events)
SELECT round(sum((c.c / n.n) * log2(n.n / c.c)), 9) AS h,
       CAST(n.n AS BIGINT) AS total
FROM c, n GROUP BY n.n
""",
)
def dialect_entropy_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_ent",
        """
        SELECT round(entropy(event_type), 9) AS h,
               CAST(count() AS Int64) AS total
        FROM __dq_events_ent
        """,
    )


# Categorical-association family (round-7): cramersV / contingency /
# theilsU over (event_type, user_id mod 5); DuckDB recomputes chi²
# and the conditional entropies from the GROUP BY contingency table.
@query(
    "dialect_cramers_roundtrip",
    oracle="""
WITH j AS (
  SELECT event_type AS x, CAST(user_id % 5 AS VARCHAR) AS y
  FROM events
), cells AS (
  SELECT x, y, CAST(count(*) AS DOUBLE) AS c FROM j GROUP BY x, y
), rm AS (
  SELECT x, CAST(count(*) AS DOUBLE) AS rc FROM j GROUP BY x
), cm AS (
  SELECT y, CAST(count(*) AS DOUBLE) AS cc FROM j GROUP BY y
), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM j),
x2 AS (
  SELECT sum(pow(cells.c - rm.rc * cm.cc / n.n, 2) /
             (rm.rc * cm.cc / n.n)) AS chi2,
         any_value(n.n) AS n
  FROM cells
  JOIN rm ON cells.x = rm.x
  JOIN cm ON cells.y = cm.y
  CROSS JOIN n
), hh AS (
  SELECT sum((rm.rc / n.n) * log2(n.n / rm.rc)) AS hx
  FROM rm CROSS JOIN n
), hc AS (
  SELECT sum((cells.c / n.n) * log2(cm.cc / cells.c)) AS hxy
  FROM cells JOIN cm ON cells.y = cm.y CROSS JOIN n
)
SELECT round(sqrt(x2.chi2 / (x2.n *
         (least((SELECT count(*) FROM rm),
                (SELECT count(*) FROM cm)) - 1))), 9) AS v,
       round(sqrt(x2.chi2 / (x2.n + x2.chi2)), 9) AS cont,
       round((hh.hx - hc.hxy) / hh.hx, 9) AS u
FROM x2, hh, hc
""",
)
def dialect_cramers_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_cv",
        """
        SELECT round(cramersV(event_type, toString(user_id % 5)), 9)
                 AS v,
               round(contingency(event_type,
                                 toString(user_id % 5)), 9) AS cont,
               round(theilsU(event_type, toString(user_id % 5)), 9)
                 AS u
        FROM __dq_events_cv
        """,
    )


# rankCorr (Spearman with tie-averaged ranks, round-7 graduation):
# per event_type, ρ(value, user_id % 97). DuckDB recomputes the
# average ranks with window SQL (min-rank + (ties−1)/2) and takes
# Pearson corr() of the rank pairs — the scaling in corr() cancels,
# so it equals the UDF's moment formula. Rounded to 6: rank sums
# reach ~n³ intermediates, where double addition order matters.
@query(
    "dialect_rankcorr_roundtrip",
    oracle="""
WITH j AS (
  SELECT event_type AS g, value AS x,
         CAST(user_id % 97 AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), r AS (
  SELECT g,
         RANK() OVER (PARTITION BY g ORDER BY x)
           + (COUNT(*) OVER (PARTITION BY g, x) - 1) / 2.0 AS rx,
         RANK() OVER (PARTITION BY g ORDER BY y)
           + (COUNT(*) OVER (PARTITION BY g, y) - 1) / 2.0 AS ry
  FROM j
)
SELECT g AS event_type, round(corr(rx, ry), 6) AS rho
FROM r GROUP BY g
""",
)
def dialect_rankcorr_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_rc",
        """
        SELECT event_type,
               round(rankCorr(value, toFloat64(user_id % 97)), 6)
                 AS rho
        FROM __dq_events_rc GROUP BY event_type
        """,
    )


# sumArgMin/sumArgMax (round-7 graduation): Σ l_quantity over the
# rows holding the group's min/max l_linestatus — ALL tied rows sum
# (min_by/max_by keep one winner, which is why these need the fold).
# DuckDB recomputes with a window extreme + FILTERed sums.
@query(
    "dialect_sumargminmax_roundtrip",
    oracle="""
WITH w AS (
  SELECT l_returnflag AS rf, l_quantity AS q, l_linestatus AS ls,
         min(l_linestatus) OVER (PARTITION BY l_returnflag) AS mn,
         max(l_linestatus) OVER (PARTITION BY l_returnflag) AS mx
  FROM lineitem
)
SELECT rf AS l_returnflag,
       round(sum(q) FILTER (WHERE ls = mn), 4) AS q_at_min_ls,
       round(sum(q) FILTER (WHERE ls = mx), 4) AS q_at_max_ls
FROM w GROUP BY rf
""",
)
def dialect_sumargminmax_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "lineitem",
        "__dq_li_sam",
        """
        SELECT l_returnflag,
               round(sumArgMin(l_quantity, l_linestatus), 4)
                 AS q_at_min_ls,
               round(sumArgMax(l_quantity, l_linestatus), 4)
                 AS q_at_max_ls
        FROM __dq_li_sam GROUP BY l_returnflag
        """,
    )


# analysisOfVariance / anova (round-7 graduation): one-way ANOVA of
# l_quantity across the three l_returnflag groups. DuckDB recomputes
# F from first principles (per-group subtotals → SSB/SSW) and — since
# df1 = k−1 = 2 — the p-value in closed form: P(F_{2,df2} > f) =
# (1 + 2f/df2)^(−df2/2). That checks BOTH struct fields, including
# the regularized-incomplete-beta path, value-level against an
# independent computation. Rounded: double summation order differs.
@query(
    "dialect_anova_roundtrip",
    oracle="""
WITH g AS (
  SELECT CAST(l_returnflag AS VARCHAR) AS g,
         CAST(l_quantity AS DOUBLE) AS x
  FROM lineitem
), per AS (
  SELECT g, sum(x) AS s, count(*) AS n FROM g GROUP BY g
), tot AS (
  SELECT sum(x) AS t, count(*) AS n, sum(x*x) AS sxx FROM g
), agg AS (
  SELECT sum(s*s/n) AS sg, count(*) AS k FROM per
), f AS (
  SELECT ((agg.sg - tot.t*tot.t/tot.n) / (agg.k - 1))
         / ((tot.sxx - agg.sg) / (tot.n - agg.k)) AS f_stat,
         CAST(agg.k - 1 AS DOUBLE) AS df1,
         CAST(tot.n - agg.k AS DOUBLE) AS df2
  FROM tot, agg
)
SELECT round(f_stat, 6) AS f_statistic,
       round(power(1 + df1 * f_stat / df2, -df2 / 2), 6) AS p_value
FROM f
""",
)
def dialect_anova_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "lineitem",
        "__dq_li_anova",
        """
        SELECT round(a.f_statistic, 6) AS f_statistic,
               round(a.p_value, 6) AS p_value
        FROM (SELECT anova(l_quantity, l_returnflag) AS a
              FROM __dq_li_anova)
        """,
    )


# Interval-sweep aggregates (round-7 graduation): per event_type,
# intervals [value, value+5) built from the events table. DuckDB
# recomputes maxIntersections with an exploded (+1/−1) event sweep
# (running SUM ordered by (position, delta) — delta −1 first at
# ties = the same half-open convention as the fold) and
# intervalLengthSum with the running-max-of-end overlap merge.
@query(
    "dialect_intervalsweep_roundtrip",
    oracle="""
WITH iv AS (
  SELECT event_type AS g, value AS s, value + 5 AS e
  FROM events WHERE value IS NOT NULL
), ev AS (
  SELECT g, s AS p, 1 AS d FROM iv
  UNION ALL
  SELECT g, e AS p, -1 AS d FROM iv
), sweep AS (
  SELECT g, sum(d) OVER (PARTITION BY g ORDER BY p, d
                         ROWS UNBOUNDED PRECEDING) AS c
  FROM ev
), merged AS (
  SELECT g, s, e,
         max(e) OVER (PARTITION BY g ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS prev_max
  FROM iv
)
SELECT m.g AS event_type,
       CAST(mx.mi AS BIGINT) AS max_inter,
       round(sum(greatest(0, m.e - greatest(m.s,
             coalesce(m.prev_max, -1e308)))), 4) AS union_len
FROM merged m
JOIN (SELECT g, max(c) AS mi FROM sweep GROUP BY g) mx
  ON mx.g = m.g
GROUP BY m.g, mx.mi
""",
)
def dialect_intervalsweep_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_ev_iv",
        """
        SELECT event_type,
               maxIntersections(value, value + 5) AS max_inter,
               round(intervalLengthSum(value, value + 5), 4)
                 AS union_len
        FROM __dq_ev_iv WHERE value IS NOT NULL
        GROUP BY event_type
        """,
    )


# deltaSumTimestamp (round-7 graduation): positive consecutive value
# deltas in (ts, value) order per event_type. DuckDB recomputes with
# lag() over the same ordering.
@query(
    "dialect_deltasumts_roundtrip",
    oracle="""
WITH o AS (
  SELECT event_type AS g, value AS v,
         lag(value) OVER (PARTITION BY event_type
                          ORDER BY ts, value) AS pv
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
)
SELECT g AS event_type,
       round(sum(CASE WHEN pv IS NOT NULL AND v > pv
                      THEN v - pv ELSE 0 END), 4) AS dsum
FROM o GROUP BY g
""",
)
def dialect_deltasumts_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_ev_dst",
        """
        SELECT event_type,
               round(deltaSumTimestamp(value, ts), 4) AS dsum
        FROM __dq_ev_dst GROUP BY event_type
        """,
    )


# seriesOutliersDetectTukey (round-7 graduation): per event_type,
# outlier count and total anomaly score over the group's value
# series. Order-invariant reductions make the collect order moot;
# DuckDB recomputes the fences from quantile_cont (same (n−1)·p
# linear interpolation as the builder) and the same
# distance-beyond-fence score.
@query(
    "dialect_tukey_outliers_roundtrip",
    oracle="""
WITH g AS (
  SELECT event_type AS g, value AS x FROM events
  WHERE value IS NOT NULL
), q AS (
  SELECT g, quantile_cont(x, 0.25) AS q1, quantile_cont(x, 0.75) AS q3
  FROM g GROUP BY g
)
SELECT g.g AS event_type,
       CAST(sum(CASE WHEN x < q1 - 1.5*(q3-q1)
                       OR x > q3 + 1.5*(q3-q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(sum(greatest(0, (q1 - 1.5*(q3-q1)) - x,
                          x - (q3 + 1.5*(q3-q1)))), 4) AS score_sum
FROM g JOIN q ON q.g = g.g GROUP BY g.g
""",
)
def dialect_tukey_outliers_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_ev_tk",
        """
        SELECT event_type,
               CAST(arrayCount(x -> x > 0, s) AS Int64) AS n_outliers,
               round(arraySum(s), 4) AS score_sum
        FROM (SELECT event_type,
                     seriesOutliersDetectTukey(groupArray(value)) AS s
              FROM __dq_ev_tk WHERE value IS NOT NULL
              GROUP BY event_type)
        """,
    )


# Round-7 format/reinterpret tranche, driver-provable: format()
# placeholder compilation (auto + positional), the reinterpretAs*
# little-endian byte views both directions, RFC 7386 JSONMergePatch
# (recursive merge + null-delete), multiplyDecimal with an explicit
# result scale, and the DECIMAL(38,0)-carried toInt128. The DuckDB
# oracle rebuilds each value from first principles (byte codes via
# code_points, JSON string assembly, decimal renders via VARCHAR
# casts). Nation is 25 rows — pure column expressions, no shuffle
# beyond the scan.
@query(
    "dialect_format_reinterpret_roundtrip",
    oracle="""
SELECT n_nationkey AS nk,
       CAST(n_regionkey AS VARCHAR) || ':' || n_name AS fmt,
       CAST(
         list_sum(list_transform(range(1, 5),
           i -> CASE WHEN strlen(n_name) >= i
                     THEN unicode(substr(n_name, CAST(i AS INT), 1))
                          * CAST(power(256, i - 1) AS BIGINT)
                     ELSE 0 END))
         AS BIGINT) AS le32,
       CAST(unicode(substr(n_name, 1, 1)) AS BIGINT) AS s8,
       chr(CAST(n_nationkey + 65 AS INT)) AS chr1,
       '{"a":1,"b":' || CAST(n_nationkey AS VARCHAR) || '}' AS jm,
       CAST(CAST(n_nationkey * 1.5 AS DECIMAL(38,3)) AS VARCHAR) AS md,
       CAST(CAST(n_nationkey * 1000000 AS DECIMAL(38,0)) AS VARCHAR)
         AS i128
FROM nation ORDER BY nk
""",
)
def dialect_format_reinterpret_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "nation",
        "__dq_nation_fr",
        """
        SELECT n_nationkey AS nk,
               format('{1}:{0}', n_name, n_regionkey) AS fmt,
               CAST(reinterpretAsUInt32(substring(n_name, 1, 4))
                    AS Int64) AS le32,
               CAST(reinterpretAsInt8(n_name) AS Int64) AS s8,
               reinterpretAsString(n_nationkey + 65) AS chr1,
               JSONMergePatch('{"a":1,"keep":true}',
                 format('{{"b":{},"keep":null}}', n_nationkey)) AS jm,
               CAST(multiplyDecimal(toDecimal64(n_nationkey, 2),
                                    toDecimal64(1.5, 2), 3)
                    AS String) AS md,
               CAST(toInt128(n_nationkey * 1000000) AS String) AS i128
        FROM __dq_nation_fr ORDER BY nk
        """,
    )


# WITH FILL ... INTERPOLATE through the dialect frontend: densify a
# gapped integer key and run the per-gap +1 recurrence on inserted
# rows. The DuckDB oracle rebuilds the same semantics from first
# principles — spine via range(), gap ids as a running real-row
# count, the k-th filled row of a gap as base + k (the closed form of
# the +1 fold).
@query(
    "dialect_with_fill_interpolate_roundtrip",
    oracle="""
WITH src AS (
  SELECT n_nationkey AS k, CAST(n_nationkey * 10 AS BIGINT) AS v
  FROM nation WHERE n_nationkey % 3 = 0
), spine AS (
  SELECT unnest(range(0, 25)) AS k
), joined AS (
  SELECT s.k AS k, src.v AS v,
         CASE WHEN src.k IS NULL THEN 1 ELSE 0 END AS miss
  FROM spine s LEFT JOIN src ON s.k = src.k
), grp AS (
  SELECT *, sum(1 - miss) OVER (ORDER BY k) AS g FROM joined
), staged AS (
  SELECT *, row_number() OVER (PARTITION BY g ORDER BY k) - 1 AS kk,
         first_value(v) OVER (PARTITION BY g ORDER BY k) AS base
  FROM grp
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(CASE WHEN miss = 1 AND g >= 1 THEN base + kk ELSE v END
            AS BIGINT) AS v
FROM staged ORDER BY k
""",
)
def dialect_with_fill_interpolate_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "nation",
        "__dq_nation_wfi",
        """
        SELECT CAST(k AS Int64) AS k, v FROM (
          SELECT n_nationkey AS k,
                 CAST(n_nationkey * 10 AS Int64) AS v
          FROM __dq_nation_wfi WHERE n_nationkey % 3 = 0
        ) ORDER BY k WITH FILL FROM 0 TO 25
        INTERPOLATE (v AS v + 1)
        """,
    )


# Stacked combinators through the dialect frontend: IfOrNull (NULL
# over the empty filtered set), one-arg countIfOrNull, DistinctIf,
# and OrDefaultIf (filter, 0 over empty). The DuckDB oracle spells
# each as FILTER + nullif/coalesce. value > 2 never matches (values
# are [0,1]) so the default path is provably exercised; the 0.999
# cut leaves some groups empty so the NULL path is too.
@query(
    "dialect_stacked_combinators_roundtrip",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(floor(value * 100) AS BIGINT))
            FILTER (WHERE value > 0.9) AS BIGINT) AS s_hi,
       CAST(nullif(count(*) FILTER (WHERE value > 0.999), 0)
            AS BIGINT) AS c_rare,
       CAST(count(DISTINCT user_id) FILTER (WHERE value > 0.5)
            AS BIGINT) AS u_hi,
       CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT))
                     FILTER (WHERE value > 2), 0) AS BIGINT) AS s_dflt
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def dialect_stacked_combinators_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_sc",
        """
        SELECT event_type,
               CAST(sumIfOrNull(CAST(floor(value * 100) AS Int64),
                                value > 0.9) AS Int64) AS s_hi,
               CAST(countIfOrNull(value > 0.999) AS Int64) AS c_rare,
               CAST(countDistinctIf(user_id, value > 0.5)
                    AS Int64) AS u_hi,
               CAST(sumOrDefaultIf(CAST(floor(value * 100) AS Int64),
                                   value > 2) AS Int64) AS s_dflt
        FROM __dq_events_sc GROUP BY event_type ORDER BY event_type
        """,
    )


# sequenceNextNode: per-group ordered event-chain lookup (the value
# AFTER the first view→click chain). The Spark side sorts the
# collected group by (ts, event_type) — the oracle's row_number uses
# the identical tie-break so positions agree exactly.
@query(
    "dialect_seqnextnode_roundtrip",
    oracle="""
WITH s AS (
  SELECT user_id % 20 AS g, event_type,
         row_number() OVER (PARTITION BY user_id % 20
                            ORDER BY ts, event_type) AS rn
  FROM events
),
p AS (
  SELECT g, min(CASE WHEN event_type = 'view' THEN rn END) AS bp
  FROM s GROUP BY g
)
SELECT p.g,
       CASE WHEN EXISTS (SELECT 1 FROM s s2 WHERE s2.g = p.g
                         AND s2.rn = p.bp + 1
                         AND s2.event_type = 'click')
            THEN (SELECT s3.event_type FROM s s3
                  WHERE s3.g = p.g AND s3.rn = p.bp + 2)
       END AS nxt
FROM p
""",
)
def dialect_seqnextnode_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_snn",
        """
        SELECT user_id % 20 AS g,
               sequenceNextNode('forward', 'first_match')(
                   ts, event_type, true,
                   event_type = 'view', event_type = 'click') AS nxt
        FROM __dq_events_snn GROUP BY user_id % 20
        """,
    )


# windowFunnel SQL spelling: max funnel depth per user for
# view→click→purchase within one hour of the chain's FIRST event.
# Oracle: exact EXISTS-join recomputation — a level-k user has
# DISTINCT events e1..ek with the right types, non-decreasing ts,
# all within [t1, t1 + 1h] (precisely the default-mode chain the
# fold finds; fixture has no per-user ts ties, checked, so sorted
# order is unambiguous).
@query(
    "dialect_windowfunnel_roundtrip",
    oracle="""
WITH ev AS (
  SELECT user_id, ts, event_type, event_id FROM events
),
l1 AS (SELECT DISTINCT user_id FROM ev WHERE event_type = 'view'),
l2 AS (
  SELECT DISTINCT v.user_id
  FROM ev v JOIN ev c ON c.user_id = v.user_id
   AND c.event_type = 'click' AND c.event_id <> v.event_id
   AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
  WHERE v.event_type = 'view'
),
l3 AS (
  SELECT DISTINCT v.user_id
  FROM ev v
  JOIN ev c ON c.user_id = v.user_id AND c.event_type = 'click'
   AND c.event_id <> v.event_id
   AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
  JOIN ev p ON p.user_id = v.user_id AND p.event_type = 'purchase'
   AND p.event_id <> v.event_id AND p.event_id <> c.event_id
   AND p.ts >= c.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
  WHERE v.event_type = 'view'
)
SELECT lvl, CAST(count(*) AS BIGINT) AS n_users FROM (
  SELECT u.user_id,
         CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
              WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
              WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
              ELSE 0 END AS lvl
  FROM (SELECT DISTINCT user_id FROM ev) u
) GROUP BY lvl
""",
)
def dialect_windowfunnel_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_wf",
        """
        SELECT lvl, CAST(count() AS Int64) AS n_users FROM (
          SELECT user_id,
                 windowFunnel(3600)(ts, event_type = 'view',
                                    event_type = 'click',
                                    event_type = 'purchase') AS lvl
          FROM __dq_events_wf GROUP BY user_id
        ) GROUP BY lvl
        """,
    )


# retention SQL spelling, flattened to scalars for the driver window:
# share of users whose first-day activity carried into later event
# types (cross-row OR per CH AggregateFunctionRetention).
@query(
    "dialect_retention_roundtrip",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f1,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS f2,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS f3
  FROM events GROUP BY user_id
)
SELECT CAST(sum(f1) AS BIGINT) AS r1,
       CAST(sum(CASE WHEN f1 = 1 AND f2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS r2,
       CAST(sum(CASE WHEN f1 = 1 AND f3 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS r3
FROM per_user
""",
)
def dialect_retention_roundtrip(spark, sf_dir):
    out = _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_ret",
        """
        SELECT retention(event_type = 'view', event_type = 'click',
                         event_type = 'purchase') AS r
        FROM __dq_events_ret GROUP BY user_id
        """,
    )
    return out.select(
        F.expr("CAST(sum(r[0]) AS BIGINT)").alias("r1"),
        F.expr("CAST(sum(r[1]) AS BIGINT)").alias("r2"),
        F.expr("CAST(sum(r[2]) AS BIGINT)").alias("r3"),
    )


# windowFunnel strict_order SQL spelling. CH halts a strict_order
# scan on TWO kinds of events after the chain starts: one matching
# NO condition (signup/error here), and an OUT-OF-ORDER funnel event
# — a condition whose predecessor level is unreached at its entry.
# For view→click→purchase only a purchase can be out-of-order (a
# click's predecessor is "any view seen", which is exactly the
# chain-started precondition), so the halt candidates are: first
# signup/error after the first view, and first purchase after the
# first view but before the first window-valid view→click
# completion. Oracle: cut the numbered stream at the earliest
# candidate and recompute the default chain (r8 EXISTS-join style)
# over the surviving prefix — the fixture has no per-user ts ties,
# so row order is unambiguous.
@query(
    "dialect_windowfunnel_strict_roundtrip",
    oracle="""
WITH ev AS (
  SELECT user_id, ts, event_type, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events
),
fv AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN rn END) AS first_view
  FROM ev GROUP BY user_id
),
l2g AS (
  SELECT c.user_id, min(c.rn) AS l2_rn
  FROM ev v JOIN ev c ON c.user_id = v.user_id
   AND c.event_type = 'click' AND c.rn > v.rn
   AND c.ts <= v.ts + INTERVAL 1 HOUR
  WHERE v.event_type = 'view'
  GROUP BY c.user_id
),
st AS (
  SELECT e.user_id,
         coalesce(min(CASE
             WHEN e.rn > f.first_view
                  AND e.event_type IN ('signup', 'error')
               THEN e.rn
             WHEN e.rn > f.first_view
                  AND e.event_type = 'purchase'
                  AND (l2g.l2_rn IS NULL OR e.rn < l2g.l2_rn)
               THEN e.rn
         END), 1000000000) AS stop_rn
  FROM ev e
  JOIN fv f ON f.user_id = e.user_id
  LEFT JOIN l2g ON l2g.user_id = e.user_id
  GROUP BY e.user_id
),
pe AS (
  SELECT e.* FROM ev e JOIN st ON st.user_id = e.user_id
  WHERE e.rn < st.stop_rn
),
l1 AS (SELECT DISTINCT user_id FROM pe WHERE event_type = 'view'),
l2 AS (
  SELECT DISTINCT v.user_id
  FROM pe v JOIN pe c ON c.user_id = v.user_id
   AND c.event_type = 'click' AND c.event_id <> v.event_id
   AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
  WHERE v.event_type = 'view'
),
l3 AS (
  SELECT DISTINCT v.user_id
  FROM pe v
  JOIN pe c ON c.user_id = v.user_id AND c.event_type = 'click'
   AND c.event_id <> v.event_id
   AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
  JOIN pe p ON p.user_id = v.user_id AND p.event_type = 'purchase'
   AND p.event_id <> v.event_id AND p.event_id <> c.event_id
   AND p.ts >= c.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
  WHERE v.event_type = 'view'
)
SELECT lvl, CAST(count(*) AS BIGINT) AS n_users FROM (
  SELECT u.user_id,
         CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
              WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
              WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
              ELSE 0 END AS lvl
  FROM (SELECT DISTINCT user_id FROM ev) u
) GROUP BY lvl
""",
)
def dialect_windowfunnel_strict_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_wfs",
        """
        SELECT lvl, CAST(count() AS Int64) AS n_users FROM (
          SELECT user_id,
                 windowFunnel(3600, 'strict_order')(
                     ts, event_type = 'view',
                     event_type = 'click',
                     event_type = 'purchase') AS lvl
          FROM __dq_events_wfs GROUP BY user_id
        ) GROUP BY lvl
        """,
    )


# sequenceMatch adjacency + (?t op N): users whose view is
# IMMEDIATELY followed (in the view/click-only stream — undescribed
# events are invisible, per CH) by a click within 10 minutes. The
# oracle numbers the filtered stream with the same (ts, condition
# index) tie-break the fold's sort uses.
@query(
    "dialect_seqmatch_time_roundtrip",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts,
             CASE WHEN event_type = 'view' THEN 1 ELSE 2 END) AS rn
  FROM events WHERE event_type IN ('view', 'click')
)
SELECT CAST(count(*) AS BIGINT) AS n_matched FROM (
  SELECT DISTINCT a.user_id
  FROM s a JOIN s b ON b.user_id = a.user_id AND b.rn = a.rn + 1
  WHERE a.event_type = 'view' AND b.event_type = 'click'
    AND epoch(b.ts) - epoch(a.ts) < 600
)
""",
)
def dialect_seqmatch_time_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_smt",
        """
        SELECT CAST(count() AS Int64) AS n_matched FROM (
          SELECT user_id,
                 sequenceMatch('(?1)(?t<600)(?2)')(
                     ts, event_type = 'view',
                     event_type = 'click') AS m
          FROM __dq_events_smt GROUP BY user_id
        ) WHERE m
        """,
    )


# sequenceMatch plain adjacency (no time bound): the same stream cut,
# any immediately-following click.
@query(
    "dialect_seqmatch_adjacent_roundtrip",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts,
             CASE WHEN event_type = 'view' THEN 1 ELSE 2 END) AS rn
  FROM events WHERE event_type IN ('view', 'click')
)
SELECT CAST(count(*) AS BIGINT) AS n_matched FROM (
  SELECT DISTINCT a.user_id
  FROM s a JOIN s b ON b.user_id = a.user_id AND b.rn = a.rn + 1
  WHERE a.event_type = 'view' AND b.event_type = 'click'
)
""",
)
def dialect_seqmatch_adjacent_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_sma",
        """
        SELECT CAST(count() AS Int64) AS n_matched FROM (
          SELECT user_id,
                 sequenceMatch('(?1)(?2)')(
                     ts, event_type = 'view',
                     event_type = 'click') AS m
          FROM __dq_events_sma GROUP BY user_id
        ) WHERE m
        """,
    )


# sequenceCount plain adjacency: total immediately-following
# view→click pairs across users. Adjacent (view, click) pairs over
# distinct event types can never share an event, so the greedy
# non-overlapping count equals the plain pair count — which the
# oracle computes relationally on the same (ts, condition-index)
# ordered stream.
@query(
    "dialect_seqcount_adjacent_roundtrip",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts,
             CASE WHEN event_type = 'view' THEN 1 ELSE 2 END) AS rn
  FROM events WHERE event_type IN ('view', 'click')
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs
FROM s a JOIN s b ON b.user_id = a.user_id AND b.rn = a.rn + 1
WHERE a.event_type = 'view' AND b.event_type = 'click'
""",
)
def dialect_seqcount_adjacent_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_sca",
        """
        SELECT CAST(sum(c) AS Int64) AS n_pairs FROM (
          SELECT user_id,
                 sequenceCount('(?1)(?2)')(
                     ts, event_type = 'view',
                     event_type = 'click') AS c
          FROM __dq_events_sca GROUP BY user_id
        )
        """,
    )


# windowFunnel strict_deduplication: a repeated already-reached
# condition truncates the funnel at that condition's level (completed
# funnels are immune — CH early-returns N at the completing event).
# Relational oracle: for a 3-level funnel only a CLICK repeat can
# truncate (a purchase repeat needs level 3 set, which already
# halted), so the first-completion positions decide everything —
# l2_rn (first window-valid view→click), l3_rn (first completed
# chain), tr_rn (first click after l2_rn); whichever of l3_rn/tr_rn
# comes first in stream order wins. Soundness: the latest-anchor DP
# reaches a level at exactly the first chain-existence position
# (later anchors only make the window check easier).
@query(
    "dialect_windowfunnel_dedup_roundtrip",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
l2 AS (
  SELECT c.user_id, min(c.rn) AS l2_rn
  FROM s v JOIN s c ON c.user_id = v.user_id
   AND c.event_type = 'click'
   AND c.rn > v.rn AND c.ts <= v.ts + INTERVAL 1 HOUR
  WHERE v.event_type = 'view'
  GROUP BY c.user_id
),
l3 AS (
  SELECT p.user_id, min(p.rn) AS l3_rn
  FROM s v
  JOIN s c ON c.user_id = v.user_id AND c.event_type = 'click'
   AND c.rn > v.rn AND c.ts <= v.ts + INTERVAL 1 HOUR
  JOIN s p ON p.user_id = v.user_id AND p.event_type = 'purchase'
   AND p.rn > c.rn AND p.ts <= v.ts + INTERVAL 1 HOUR
  WHERE v.event_type = 'view'
  GROUP BY p.user_id
),
tr AS (
  SELECT s.user_id, min(s.rn) AS tr_rn
  FROM s JOIN l2 ON l2.user_id = s.user_id
  WHERE s.event_type = 'click' AND s.rn > l2.l2_rn
  GROUP BY s.user_id
)
SELECT lvl, CAST(count(*) AS BIGINT) AS n_users FROM (
  SELECT u.user_id,
    CASE WHEN l3.l3_rn IS NOT NULL
              AND (tr.tr_rn IS NULL OR l3.l3_rn < tr.tr_rn) THEN 3
         WHEN tr.tr_rn IS NOT NULL THEN 2
         WHEN l2.l2_rn IS NOT NULL THEN 2
         WHEN EXISTS (SELECT 1 FROM s WHERE s.user_id = u.user_id
                      AND s.event_type = 'view') THEN 1
         ELSE 0 END AS lvl
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN l2 ON l2.user_id = u.user_id
  LEFT JOIN l3 ON l3.user_id = u.user_id
  LEFT JOIN tr ON tr.user_id = u.user_id
) GROUP BY lvl
""",
)
def dialect_windowfunnel_dedup_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_wfd",
        """
        SELECT lvl, CAST(count() AS Int64) AS n_users FROM (
          SELECT user_id,
                 windowFunnel(3600, 'strict_deduplication')(
                     ts, event_type = 'view',
                     event_type = 'click',
                     event_type = 'purchase') AS lvl
          FROM __dq_events_wfd GROUP BY user_id
        ) GROUP BY lvl
        """,
    )


# sparkbar(width)(x, y): the bucketed block-glyph bar aggregate,
# graduated from the probe refusals in round 10. The oracle
# recomputes the rendering relationally: bucket index
# floor((x−min)·w/(max−min+1)) clamped to w−1, per-bucket y sums,
# glyph level ceil(8·s/max) over the ▁▂▃▄▅▆▇█ ramp, spaces for
# empty buckets, string_agg in bucket order.
@query(
    "dialect_sparkbar_roundtrip",
    oracle="""
WITH ext AS (
  SELECT event_type, min(user_id) AS mn, max(user_id) AS mx
  FROM events GROUP BY event_type
),
sums AS (
  SELECT e.event_type,
         LEAST(CAST(FLOOR((e.user_id - x.mn) * 16.0
                          / (x.mx - x.mn + 1)) AS INT), 15) AS bkt,
         CAST(count(*) AS DOUBLE) AS s
  FROM events e JOIN ext x ON e.event_type = x.event_type
  GROUP BY e.event_type, bkt
),
peaks AS (
  SELECT event_type, max(s) AS m FROM sums GROUP BY event_type
),
grid AS (
  SELECT p.event_type, g.bkt, coalesce(s.s, 0) AS s, p.m
  FROM peaks p
  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bkt) g
  LEFT JOIN sums s ON s.event_type = p.event_type AND s.bkt = g.bkt
)
SELECT event_type,
       string_agg(
         CASE WHEN s <= 0 THEN ' '
              ELSE list_extract(
                ['▁','▂','▃','▄','▅','▆','▇','█'],
                CAST(LEAST(8, GREATEST(1, CEIL(s * 8 / m))) AS INT))
         END, '' ORDER BY bkt) AS bar
FROM grid GROUP BY event_type ORDER BY event_type
""",
)
def dialect_sparkbar_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_sb",
        """
        SELECT event_type, sparkbar(16)(user_id, 1) AS bar
        FROM __dq_events_sb GROUP BY event_type ORDER BY event_type
        """,
    )


# Bitmap family over the sorted-distinct-array representation,
# graduated binary cardinalities + subset selectors (round 10). The
# oracle recomputes each cardinality relationally over DISTINCT
# user_id sets: AND = join, OR = union, XOR = |OR| − |AND|,
# ANDNOT = |A| − |AND|; the range subset is a plain filter and
# subBitmap(a, 10, 100) is rows 11..110 of the ordered distinct set.
@query(
    "dialect_bitmap_roundtrip",
    oracle="""
WITH v AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'view'),
     p AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'purchase'),
     a AS (SELECT count(*) AS c FROM v JOIN p USING (user_id)),
     o AS (SELECT count(*) AS c FROM
           (SELECT user_id FROM v UNION SELECT user_id FROM p))
SELECT CAST(a.c AS BIGINT) AS and_c,
       CAST(o.c AS BIGINT) AS or_c,
       CAST(o.c - a.c AS BIGINT) AS xor_c,
       CAST((SELECT count(*) FROM v) - a.c AS BIGINT) AS andnot_c,
       CAST((SELECT count(*) FROM v
             WHERE user_id >= 0 AND user_id < 500) AS BIGINT)
           AS range_c,
       CAST((SELECT count(*) FROM
             (SELECT user_id, row_number() OVER (ORDER BY user_id)
                     AS rn FROM v)
             WHERE rn > 10 AND rn <= 110) AS BIGINT) AS sub_c
FROM a, o
""",
)
def dialect_bitmap_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_bm",
        """
        SELECT CAST(bitmapAndCardinality(a, b) AS Int64) AS and_c,
               CAST(bitmapOrCardinality(a, b) AS Int64) AS or_c,
               CAST(bitmapXorCardinality(a, b) AS Int64) AS xor_c,
               CAST(bitmapAndnotCardinality(a, b) AS Int64)
                   AS andnot_c,
               CAST(bitmapCardinality(
                   bitmapSubsetInRange(a, 0, 500)) AS Int64)
                   AS range_c,
               CAST(bitmapCardinality(
                   subBitmap(a, 10, 100)) AS Int64) AS sub_c
        FROM (
          SELECT bitmapBuild(groupArrayIf(user_id,
                     event_type = 'view')) AS a,
                 bitmapBuild(groupArrayIf(user_id,
                     event_type = 'purchase')) AS b
          FROM __dq_events_bm
        )
        """,
    )


# quantile(s)ExactExclusive — the R-6 estimator (Excel
# PERCENTILE.EXC), graduated round 10. The oracle recomputes R-6
# relationally in DuckDB from order statistics: h = (n+1)·p,
# end-clamped, linear interpolation between the floor(h)-th and
# next ordered values.
@query(
    "dialect_quantile_exclusive_roundtrip",
    oracle="""
WITH ranked AS (
  SELECT value AS v,
         row_number() OVER (ORDER BY value) AS rn,
         count(*) OVER () AS n
  FROM events
),
params(p) AS (VALUES (0.25), (0.5), (0.9)),
h AS (
  SELECT p, (SELECT max(n) FROM ranked) AS n,
         ((SELECT max(n) FROM ranked) + 1) * p AS hr
  FROM params
)
SELECT CAST(h.p AS DOUBLE) AS p,
       round(CASE
         WHEN h.hr < 1 THEN (SELECT v FROM ranked WHERE rn = 1)
         WHEN h.hr >= h.n THEN (SELECT v FROM ranked WHERE rn = h.n)
         ELSE (SELECT v FROM ranked WHERE rn = CAST(FLOOR(h.hr) AS INT))
              + (h.hr - FLOOR(h.hr)) *
                ((SELECT v FROM ranked WHERE rn = CAST(FLOOR(h.hr) AS INT) + 1)
                 - (SELECT v FROM ranked WHERE rn = CAST(FLOOR(h.hr) AS INT)))
       END, 6) AS q
FROM h ORDER BY p
""",
)
def dialect_quantile_exclusive_roundtrip(spark, sf_dir):
    out = _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_qex",
        """
        SELECT quantilesExactExclusive(0.25, 0.5, 0.9)(`value`) AS qs
        FROM __dq_events_qex
        """,
    )
    # round() collapses the ~2-ULP interpolation-order noise between
    # the Spark fold and the DuckDB relational recomputation — the
    # driver's typed value-hash has no float tolerance.
    return out.selectExpr(
        "explode(arrays_zip(array(0.25D, 0.5D, 0.9D), qs)) AS z"
    ).selectExpr("z.`0` AS p", "round(z.qs, 6) AS q")


# toStartOfWeek week modes (round-10): even modes Sunday-first, odd
# Monday-first, Date never tz-shifted. The oracle recomputes both
# week starts from DuckDB's dayofweek (0=Sunday) over event days.
@query(
    "dialect_week_modes_roundtrip",
    oracle="""
SELECT CAST(ts AS DATE) - CAST(dayofweek(CAST(ts AS DATE)) AS INT)
           AS sun_start,
       CAST(ts AS DATE) - CAST(((dayofweek(CAST(ts AS DATE)) + 6)
           % 7) AS INT) AS mon_start,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY sun_start, mon_start
ORDER BY sun_start, mon_start
""",
)
def dialect_week_modes_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_wk",
        """
        SELECT toStartOfWeek(CAST(ts AS TIMESTAMP), 0) AS sun_start,
               toStartOfWeek(CAST(ts AS TIMESTAMP), 1) AS mon_start,
               CAST(count() AS Int64) AS n
        FROM __dq_events_wk
        GROUP BY sun_start, mon_start
        ORDER BY sun_start, mon_start
        """,
    )


# Weighted quantiles through the dialect layer (round-11
# graduations): parametric and bare quantileExactWeighted → Spark
# percentile's frequency argument; DuckDB recomputes by expanding
# each row weight-many times (verified value-exact at these levels).
# round() collapses interpolation-order ULPs (no driver float
# tolerance).
@query(
    "dialect_quantile_weighted_roundtrip",
    oracle="""
WITH expanded AS (
  SELECT l_quantity FROM lineitem CROSS JOIN UNNEST(range(l_linenumber))
)
SELECT round(quantile_cont(l_quantity, 0.5), 6) AS m,
       round(quantile_cont(l_quantity, 0.25), 6) AS q25,
       round(quantile_cont(l_quantity, 0.9), 6) AS q90,
       round(quantile_cont(l_quantity, 0.5), 6) AS bare_m
FROM expanded
""",
)
def dialect_quantile_weighted_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "lineitem",
        "__dq_li_qw",
        """
        SELECT round(quantileExactWeighted(0.5)(l_quantity,
                   l_linenumber), 6) AS m,
               round(arrayElement(quantilesExactWeighted(0.25, 0.9)(
                   l_quantity, l_linenumber), 1), 6) AS q25,
               round(arrayElement(quantilesExactWeighted(0.25, 0.9)(
                   l_quantity, l_linenumber), 2), 6) AS q90,
               round(quantileExactWeighted(l_quantity,
                   l_linenumber), 6) AS bare_m
        FROM __dq_li_qw
        """,
    )


# bitmap × -State/-Merge rollup (round-11): per-type bitmap states,
# merged to the global cardinality — the AggregatingMergeTree
# pattern. DuckDB recomputes both levels with count(DISTINCT).
@query(
    "dialect_bitmap_state_merge_roundtrip",
    oracle="""
WITH per AS (
  SELECT event_type,
         count(DISTINCT user_id % 256) AS per_c
  FROM events GROUP BY event_type
)
SELECT (SELECT CAST(count(DISTINCT user_id % 256) AS BIGINT)
        FROM events) AS merged_c,
       CAST(sum(per_c) AS BIGINT) AS sum_c,
       CAST(count(*) AS BIGINT) AS n_types
FROM per
""",
)
def dialect_bitmap_state_merge_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_bsm",
        """
        SELECT groupBitmapMerge(st) AS merged_c,
               CAST(sum(per_c) AS Int64) AS sum_c,
               CAST(count() AS Int64) AS n_types
        FROM (
          SELECT event_type,
                 groupBitmapState(user_id % 256) AS st,
                 CAST(bitmapCardinality(groupBitmapState(
                     user_id % 256)) AS Int64) AS per_c
          FROM __dq_events_bsm GROUP BY event_type
        )
        """,
    )


# URLHierarchy through the dialect layer (round-11: hierarchy now
# includes the bare scheme://host level). The oracle rebuilds the
# three-level hierarchy with plain string concatenation.
@query(
    "dialect_url_hierarchy_roundtrip",
    oracle="""
SELECT doc_id,
       'https://' || source || '.example.com' || '|' ||
       'https://' || source || '.example.com/' || lang || '|' ||
       'https://' || source || '.example.com/' || lang || '/d' ||
       CAST(doc_id AS VARCHAR) AS hier
FROM documents WHERE doc_id < 200 ORDER BY doc_id
""",
)
def dialect_url_hierarchy_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "documents",
        "__dq_docs_url",
        """
        SELECT doc_id,
               arrayStringConcat(URLHierarchy(concat('https://',
                   source, '.example.com/', lang, '/d',
                   toString(doc_id))), '|') AS hier
        FROM __dq_docs_url WHERE doc_id < 200 ORDER BY doc_id
        """,
    )


# Bare toStartOfWeek == mode 0 (Sunday-first, CH's default — the
# ADVICE r10 alignment). DuckDB: dayofweek() is 0=Sunday.
@query(
    "dialect_week_bare_roundtrip",
    oracle="""
SELECT CAST(o_orderdate AS DATE)
           - CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS wk,
       CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_orderdate < '1995-06-01'
GROUP BY wk ORDER BY wk
""",
)
def dialect_week_bare_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_wb",
        """
        SELECT toStartOfWeek(o_orderdate) AS wk,
               CAST(count() AS Int64) AS n
        FROM __dq_orders_wb WHERE o_orderdate < '1995-06-01'
        GROUP BY wk ORDER BY wk
        """,
    )


# -OrNull combinators + empty-global-aggregate semantics (round-11
# fix: uniq/groupArray families returned 0/[] over zero rows where
# CH yields NULL). The filtered global aggregate produces the empty
# group; the unfiltered arm proves values are untouched.
@query(
    "dialect_or_null_combinators_roundtrip",
    oracle="""
SELECT CASE WHEN count(user_id) = 0
            THEN NULL ELSE count(DISTINCT user_id) END AS u_empty,
       CASE WHEN count(*) = 0 THEN NULL
            ELSE CAST(count(*) AS BIGINT) END AS c_empty,
       (SELECT count(DISTINCT event_type) FROM events) AS u_full,
       (SELECT CAST(max(user_id) AS BIGINT) FROM events) AS m_full
FROM events WHERE value < -1
""",
)
def dialect_or_null_combinators_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_orn",
        """
        SELECT uniqExactOrNull(user_id) AS u_empty,
               countOrNull() AS c_empty,
               (SELECT uniqExactOrNull(event_type)
                FROM __dq_events_orn) AS u_full,
               (SELECT CAST(maxOrNull(user_id) AS Int64)
                FROM __dq_events_orn) AS m_full
        FROM __dq_events_orn WHERE value < -1
        """,
    )


# Keyed arraySort (the round-11 Schwartzian rewrite) + the
# parenthesized single-param lambda spelling: sort each document's
# first tokens by (length, value). DuckDB recomputes with
# unnest + array_agg(ORDER BY).
@query(
    "dialect_array_sort_lambda_roundtrip",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')[1:5]) AS w
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       array_to_string(array_agg(w ORDER BY length(w), w), '|')
           AS sorted_words
FROM toks GROUP BY doc_id ORDER BY doc_id
""",
)
def dialect_array_sort_lambda_roundtrip(spark, sf_dir):
    # sorted_words is array_join-flattened on BOTH sides: the driver's
    # pandas canonicalizer cannot sort list cells (window lint).
    return _ch(
        spark,
        sf_dir,
        "documents",
        "__dq_docs_sortl",
        """
        SELECT doc_id,
               arrayStringConcat(
                   arraySort((w) -> (length(w), w),
                             arraySlice(splitByChar(' ', text), 1, 5)),
                   '|') AS sorted_words
        FROM __dq_docs_sortl WHERE doc_id < 300 ORDER BY doc_id
        """,
    )


# INTERVAL <expr> UNIT with a column quantity (round-11: Spark's
# grammar only takes literals) — ship dates pushed by a per-order
# day count, monthly buckets by a computed month offset.
@query(
    "dialect_interval_expr_roundtrip",
    oracle="""
SELECT CAST(CAST(o_orderdate AS DATE)
           + CAST(CAST(o_orderkey % 30 AS INT) AS BIGINT)
           * INTERVAL 1 DAY AS DATE) AS shifted,
       CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_orderdate < '1995-06-01'
GROUP BY shifted ORDER BY shifted
""",
)
def dialect_interval_expr_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_iv",
        """
        SELECT CAST(o_orderdate + INTERVAL (o_orderkey % 30) DAY
                    AS Date) AS shifted,
               CAST(count() AS Int64) AS n
        FROM __dq_orders_iv WHERE o_orderdate < '1995-06-01'
        GROUP BY shifted ORDER BY shifted
        """,
    )


# AggregatingMergeTree three-level fold: -State per type, -MergeState
# re-rolled by a coarser key, -Merge to finals — the materialized-
# view compaction pattern, for sum and uniq lanes at once.
@query(
    "dialect_merge_state_roundtrip",
    oracle="""
WITH per AS (
  SELECT user_id % 10 AS coarse,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4))
             AS s,
         count(DISTINCT event_type) AS u
  FROM events GROUP BY user_id % 97, user_id % 10
)
SELECT CAST(count(*) AS BIGINT) AS n_coarse,
       CAST(sum(s) AS DOUBLE) AS total,
       CAST(max(u) AS BIGINT) AS max_u
FROM (SELECT coarse, sum(s) AS s, max(u) AS u
      FROM per GROUP BY coarse)
""",
)
def dialect_merge_state_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_ms",
        """
        SELECT CAST(count() AS Int64) AS n_coarse,
               CAST(sumMerge(s2) AS Float64) AS total,
               CAST(max(u2) AS Int64) AS max_u
        FROM (
          SELECT coarse,
                 sumMergeState(s) AS s2,
                 max(u) AS u2
          FROM (
            SELECT user_id % 97 AS fine, user_id % 10 AS coarse,
                   sumState(CAST(value AS Decimal(18, 4))) AS s,
                   uniqExact(event_type) AS u
            FROM __dq_events_ms GROUP BY fine, coarse
          ) GROUP BY coarse
        )
        """,
    )


# ANSI OFFSET/FETCH spellings (round-11 graduation) — DuckDB serves
# the identical grammar, so the oracle is nearly the same text.
@query(
    "dialect_offset_fetch_roundtrip",
    oracle="""
SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
FROM orders ORDER BY o_orderkey
OFFSET 10 ROWS FETCH NEXT 25 ROWS ONLY
""",
)
def dialect_offset_fetch_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_of",
        """
        SELECT o_orderkey, CAST(o_totalprice AS Float64) AS price
        FROM __dq_orders_of ORDER BY o_orderkey
        OFFSET 10 ROWS FETCH NEXT 25 ROWS ONLY
        """,
    )


# groupArrayArray / groupUniqArrayArray (round-11: the -Array
# combinator over the collect bases) — concat per-doc token arrays
# per language, dedup the Uniq lane. DuckDB recomputes by
# unnest + list().
@query(
    "dialect_group_array_array_roundtrip",
    oracle="""
WITH toks AS (
  SELECT lang, unnest(str_split(text, ' ')[1:3]) AS w
  FROM documents WHERE doc_id < 120
)
SELECT lang,
       CAST(count(w) AS BIGINT) AS n_tokens,
       array_to_string(list_sort(list(w)), '|') AS all_words,
       array_to_string(list_sort(list(DISTINCT w)), '|') AS uniq_words
FROM toks GROUP BY lang ORDER BY lang
""",
)
def dialect_group_array_array_roundtrip(spark, sf_dir):
    # all_words/uniq_words array_join-flattened on BOTH sides: the
    # driver's pandas canonicalizer cannot sort list cells.
    return _ch(
        spark,
        sf_dir,
        "documents",
        "__dq_docs_gaa",
        """
        SELECT lang,
               CAST(length(groupArrayArray(ws)) AS Int64) AS n_tokens,
               arrayStringConcat(arraySort(groupArrayArray(ws)), '|')
                   AS all_words,
               arrayStringConcat(arraySort(groupUniqArrayArray(ws)),
                                 '|') AS uniq_words
        FROM (
          SELECT lang, arraySlice(splitByChar(' ', text), 1, 3) AS ws
          FROM __dq_docs_gaa WHERE doc_id < 120
        ) GROUP BY lang ORDER BY lang
        """,
    )


# ---------------------------------------------------------------
# Round-12 oracle rows (staged for the r13 driver window): the CH
# 23.6 sweep graduations recomputed independently by DuckDB.
# ---------------------------------------------------------------


# Month-family date arithmetic keeps each input type (the round-12
# review fix): quarters pushed per order, grouped. DuckDB recomputes
# with its own month-interval arithmetic.
@query(
    "dialect_quarter_arithmetic_roundtrip",
    oracle="""
SELECT CAST(o_orderdate + to_months(CAST(3 * (o_orderkey % 3) AS INT))
            AS DATE) AS shifted,
       CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_orderdate < '1995-09-01'
GROUP BY shifted ORDER BY shifted
""",
)
def dialect_quarter_arithmetic_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_qa",
        """
        SELECT CAST(addQuarters(o_orderdate, o_orderkey % 3) AS Date)
                   AS shifted,
               CAST(count() AS Int64) AS n
        FROM __dq_orders_qa WHERE o_orderdate < '1995-09-01'
        GROUP BY shifted ORDER BY shifted
        """,
    )


# tumbleStart/tumbleEnd fixed-size buckets over the event stream.
# DuckDB recomputes with time_bucket (its own windowing primitive).
@query(
    "dialect_tumble_window_roundtrip",
    oracle="""
SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
           AS w_start,
       time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
           + INTERVAL '10 minutes' AS w_end,
       CAST(count(*) AS BIGINT) AS n
FROM events WHERE user_id < 200
GROUP BY w_start ORDER BY w_start
""",
)
def dialect_tumble_window_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_tw",
        """
        SELECT tumbleStart(CAST(ts AS DateTime), INTERVAL 10 MINUTE)
                   AS w_start,
               tumbleEnd(CAST(ts AS DateTime), INTERVAL 10 MINUTE)
                   AS w_end,
               CAST(count() AS Int64) AS n
        FROM __dq_events_tw WHERE user_id < 200
        GROUP BY w_start, w_end ORDER BY w_start
        """,
    )


# extractAll with the capture-group dispatch, flattened for the
# driver's scalar-column lint. DuckDB: regexp_extract_all.
@query(
    "dialect_extract_all_roundtrip",
    oracle="""
SELECT doc_id,
       coalesce(array_to_string(
           regexp_extract_all(text, '[aeiou]+'), '|'), '')
           AS vowel_runs,
       coalesce(array_to_string(
           regexp_extract_all(text, 'th([a-z]+)', 1), '|'), '')
           AS th_tails
FROM documents WHERE doc_id < 150 ORDER BY doc_id
""",
)
def dialect_extract_all_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "documents",
        "__dq_docs_xa",
        """
        SELECT doc_id,
               arrayStringConcat(extractAll(text, '[aeiou]+'), '|')
                   AS vowel_runs,
               arrayStringConcat(extractAll(text, 'th([a-z]+)'), '|')
                   AS th_tails
        FROM __dq_docs_xa WHERE doc_id < 150 ORDER BY doc_id
        """,
    )


# parseDateTimeBestEffortUS: month-first strings rendered from order
# dates round-trip back to the date. DuckDB: strftime + strptime.
@query(
    "dialect_parse_us_roundtrip",
    oracle="""
SELECT CAST(strptime(strftime(o_orderdate, '%m/%d/%Y'), '%m/%d/%Y')
            AS DATE) AS d,
       CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_orderkey < 3000
GROUP BY d ORDER BY d
""",
)
def dialect_parse_us_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_us",
        """
        SELECT CAST(parseDateTimeBestEffortUS(
                   formatDateTime(o_orderdate, '%m/%d/%Y')) AS Date)
                   AS d,
               CAST(count() AS Int64) AS n
        FROM __dq_orders_us WHERE o_orderkey < 3000
        GROUP BY d ORDER BY d
        """,
    )


# CH negative-length left/right (all-but-last-n / all-but-first-n)
# — the ADVICE r11 semantics fix. DuckDB spells the arithmetic
# directly over customer names.
@query(
    "dialect_left_right_negative_roundtrip",
    oracle="""
SELECT c_custkey,
       substring(c_name, 1, greatest(length(c_name) - 3, 0)) AS l,
       substring(c_name, 4) AS r,
       left(c_name, 5) AS lp,
       right(c_name, 5) AS rp
FROM customer WHERE c_custkey < 200 ORDER BY c_custkey
""",
)
def dialect_left_right_negative_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "customer",
        "__dq_cust_lr",
        """
        SELECT c_custkey,
               left(c_name, -3) AS l,
               right(c_name, -3) AS r,
               leftUTF8(c_name, 5) AS lp,
               rightUTF8(c_name, 5) AS rp
        FROM __dq_cust_lr WHERE c_custkey < 200 ORDER BY c_custkey
        """,
    )


# reinterpretAs* numeric identity (the round-12 value fix: integers
# keep their low bytes, no byte-swap). DuckDB: plain modulus.
@query(
    "dialect_reinterpret_numeric_roundtrip",
    oracle="""
SELECT CAST(o_orderkey % 65536 AS BIGINT) AS u16,
       CAST(o_orderkey % 256 AS BIGINT) AS u8,
       CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_orderkey < 5000
GROUP BY u16, u8 ORDER BY u16, u8
""",
)
def dialect_reinterpret_numeric_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_ri",
        """
        SELECT reinterpretAsUInt16(o_orderkey) AS u16,
               reinterpretAsUInt8(o_orderkey) AS u8,
               CAST(count() AS Int64) AS n
        FROM __dq_orders_ri WHERE o_orderkey < 5000
        GROUP BY u16, u8 ORDER BY u16, u8
        """,
    )


# JSONExtractUInt over JSON rendered from the events table; both
# sides re-parse the string they built. DuckDB: json_extract.
@query(
    "dialect_json_uint_roundtrip",
    oracle="""
SELECT CAST(json_extract_string(
           '{"uid": ' || CAST(user_id AS VARCHAR) || '}', '$.uid')
           AS BIGINT) AS uid,
       CAST(count(*) AS BIGINT) AS n
FROM events WHERE user_id < 150
GROUP BY uid ORDER BY uid
""",
)
def dialect_json_uint_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "events",
        "__dq_events_ju",
        """
        SELECT CAST(JSONExtractUInt(
                   concat('{"uid": ', toString(user_id), '}'), 'uid')
                   AS Int64) AS uid,
               CAST(count() AS Int64) AS n
        FROM __dq_events_ju WHERE user_id < 150
        GROUP BY uid ORDER BY uid
        """,
    )


# parseDateTimeBestEffortOrZero maps garbage rows to the epoch
# instead of raising; valid rows parse. DuckDB recomputes the CASE.
@query(
    "dialect_parse_or_zero_roundtrip",
    oracle="""
SELECT CAST(CASE WHEN o_orderkey % 3 = 0
            THEN TIMESTAMP '1970-01-01 00:00:00'
            ELSE CAST(o_orderdate AS TIMESTAMP) END AS TIMESTAMP)
           AS parsed,
       CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_orderkey < 4000
GROUP BY parsed ORDER BY parsed
""",
)
def dialect_parse_or_zero_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_pz",
        """
        SELECT parseDateTimeBestEffortOrZero(
                   if(o_orderkey % 3 = 0, 'garbage',
                      toString(o_orderdate))) AS parsed,
               CAST(count() AS Int64) AS n
        FROM __dq_orders_pz WHERE o_orderkey < 4000
        GROUP BY parsed ORDER BY parsed
        """,
    )


# toStartOfISOYear: the Monday of the ISO-week-1 week. DuckDB
# rebuilds it from its own isoyear extraction.
@query(
    "dialect_iso_year_start_roundtrip",
    oracle="""
SELECT CAST(date_trunc('week',
           make_date(CAST(isoyear(o_orderdate) AS INT), 1, 4))
           AS DATE) AS iso_start,
       CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY iso_start ORDER BY iso_start
""",
)
def dialect_iso_year_start_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_iy",
        """
        SELECT toStartOfISOYear(o_orderdate) AS iso_start,
               CAST(count() AS Int64) AS n
        FROM __dq_orders_iy GROUP BY iso_start ORDER BY iso_start
        """,
    )


# The case-insensitive string twins over documents: non-overlapping
# substring counts and byte Hamming distance (mismatches). DuckDB
# recomputes the count by scan arithmetic and Hamming by per-char
# list comparison.
@query(
    "dialect_string_twins_roundtrip",
    oracle="""
SELECT doc_id,
       CAST(floor((length(lower(text))
            - length(replace(lower(text), 'the', '')))
            / 3) AS INT) AS n_the,
       CAST(len(list_filter(range(1, least(length(lang), 2) + 1),
            i -> substring(lang, i, 1) != substring('en', i, 1)))
            + abs(length(lang) - 2) AS INT) AS ham_en
FROM documents WHERE doc_id < 150 ORDER BY doc_id
""",
)
def dialect_string_twins_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "documents",
        "__dq_docs_st",
        """
        SELECT doc_id,
               countSubstringsCaseInsensitiveUTF8(text, 'the')
                   AS n_the,
               CAST(mismatches(lang, 'en') AS Int32) AS ham_en
        FROM __dq_docs_st WHERE doc_id < 150 ORDER BY doc_id
        """,
    )


# The canonical un-aliased ARRAY JOIN (element shadows the source
# column — the round-12 statement-sweep fix) + GROUP BY over the
# element. DuckDB recomputes with unnest.
@query(
    "dialect_array_join_shadow_roundtrip",
    oracle="""
WITH toks AS (
  SELECT unnest(str_split(text, ' ')[1:4]) AS w
  FROM documents WHERE doc_id < 200
)
SELECT w, CAST(count(*) AS BIGINT) AS n
FROM toks WHERE w != '' GROUP BY w ORDER BY n DESC, w LIMIT 40
""",
)
def dialect_array_join_shadow_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "documents",
        "__dq_docs_ajs",
        """
        SELECT w, CAST(count() AS Int64) AS n
        FROM (
          SELECT arraySlice(splitByChar(' ', text), 1, 4) AS w
          FROM __dq_docs_ajs WHERE doc_id < 200
        ) ARRAY JOIN w
        WHERE w != '' GROUP BY w ORDER BY n DESC, w LIMIT 40
        """,
    )


# Bare topK/topKWeighted (valid CH: N defaults to 10 — the round-12
# review-pass graduation). l_linenumber frequencies are strictly
# decreasing in TPC-H, so the rank order is deterministic; DuckDB
# recomputes the frequency ranking with window SQL.
@query(
    "dialect_topk_bare_roundtrip",
    oracle="""
WITH freq AS (
  SELECT l_linenumber AS ln, count(*) AS c,
         sum(l_quantity) AS wsum
  FROM lineitem GROUP BY 1
)
SELECT array_to_string(list(CAST(ln AS VARCHAR) ORDER BY c DESC, ln),
                       '|') AS top_by_count,
       array_to_string(list(CAST(ln AS VARCHAR) ORDER BY wsum DESC,
                            ln), '|') AS top_by_qty
FROM freq
""",
)
def dialect_topk_bare_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "lineitem",
        "__dq_li_topk",
        """
        SELECT arrayStringConcat(
                   arrayMap(__x -> toString(__x),
                            topK(l_linenumber)), '|') AS top_by_count,
               arrayStringConcat(
                   arrayMap(__x -> toString(__x),
                            topKWeighted(l_linenumber,
                                         CAST(l_quantity AS Int64))),
                   '|') AS top_by_qty
        FROM __dq_li_topk
        """,
    )


# String-literal date arithmetic (round-12 review fix: interval
# addition needs the literal typed; add_months' implicit coercion
# was lost in the month-family move). DuckDB recomputes with typed
# DATE/TIMESTAMP literals and its own interval arithmetic.
@query(
    "dialect_interval_string_roundtrip",
    oracle="""
SELECT CAST(DATE '1995-03-14'
            + to_months(CAST(o_orderkey % 7 AS INT)) AS DATE) AS m,
       CAST(TIMESTAMP '1995-03-14 06:30:00'
            + to_hours(CAST(o_orderkey % 31 AS INT))
            AS TIMESTAMP) AS h,
       CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_orderkey < 2000
GROUP BY m, h ORDER BY m, h
""",
)
def dialect_interval_string_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_is",
        """
        SELECT CAST(addMonths('1995-03-14', o_orderkey % 7) AS Date)
                   AS m,
               CAST(addHours('1995-03-14 06:30:00', o_orderkey % 31)
                   AS DateTime) AS h,
               CAST(count() AS Int64) AS n
        FROM __dq_orders_is WHERE o_orderkey < 2000
        GROUP BY m, h ORDER BY m, h
        """,
    )


# IPv4 formatter dual-representation dispatch (round-12 review fix):
# the numeric path, the dotted-string path through toIPv4, and the
# v4→v6 mapping all in one row. DuckDB rebuilds the dotted quad and
# the '::ffff:' mapped form from integer arithmetic.
@query(
    "dialect_ipv4_format_roundtrip",
    oracle="""
WITH nums AS (
  SELECT (o_orderkey * 2654435761) % 4294967296 AS n
  FROM orders WHERE o_orderkey < 500
),
quads AS (
  SELECT n,
         CAST(n // 16777216 % 256 AS VARCHAR) || '.' ||
         CAST(n // 65536 % 256 AS VARCHAR) || '.' ||
         CAST(n // 256 % 256 AS VARCHAR) || '.' ||
         CAST(n % 256 AS VARCHAR) AS quad
  FROM nums
)
SELECT quad,
       CAST(n // 16777216 % 256 AS VARCHAR) || '.' ||
       CAST(n // 65536 % 256 AS VARCHAR) || '.' ||
       CAST(n // 256 % 256 AS VARCHAR) || '.xxx' AS classc,
       '::ffff:' || quad AS mapped
FROM quads ORDER BY quad
""",
)
def dialect_ipv4_format_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "orders",
        "__dq_orders_ip",
        """
        SELECT IPv4NumToString(n) AS quad,
               IPv4NumToStringClassC(toIPv4(IPv4NumToString(n)))
                   AS classc,
               IPv6NumToString(IPv4ToIPv6(toIPv4(
                   IPv4NumToString(n)))) AS mapped
        FROM (
          SELECT (o_orderkey * 2654435761) % 4294967296 AS n
          FROM __dq_orders_ip WHERE o_orderkey < 500
        ) ORDER BY quad
        """,
    )


# arrayJoin hoisting (round-12): distinct arguments expand to CH's
# cartesian, identical arguments in LOCKSTEP — both in one statement.
# DuckDB recomputes with explicit cross-joined unnest generators.
@query(
    "dialect_arrayjoin_cartesian_roundtrip",
    oracle="""
WITH g1 AS (SELECT unnest([1,2,3]) AS x),
     g2 AS (SELECT unnest([10,20]) AS y)
SELECT x * y AS p, x + x AS lockstep, CAST(count(*) AS BIGINT) AS n
FROM documents CROSS JOIN g1 CROSS JOIN g2
WHERE doc_id < 50 GROUP BY p, lockstep ORDER BY p, lockstep
""",
)
def dialect_arrayjoin_cartesian_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "documents",
        "__dq_docs_ajc",
        """
        SELECT arrayJoin([1,2,3]) * arrayJoin([10,20]) AS p,
               arrayJoin([1,2,3]) + arrayJoin([1,2,3]) AS lockstep,
               CAST(count() AS Int64) AS n
        FROM __dq_docs_ajc WHERE doc_id < 50
        GROUP BY p, lockstep ORDER BY p, lockstep
        """,
    )


# Multi-array higher-order functions (round-12 fix: the two-array
# arrayMap silently bound the second lambda param to Spark's element
# index). DuckDB recomputes the positional zip with index lambdas
# over generate_series.
@query(
    "dialect_multiarray_lambda_roundtrip",
    oracle="""
WITH w AS (
  SELECT doc_id,
         list_transform(str_split(text, ' ')[1:5],
                        w -> CAST(length(w) AS DOUBLE)) AS ws
  FROM documents WHERE doc_id < 150
)
SELECT doc_id,
       CAST(coalesce(list_sum(list_transform(ws, x -> x * x)), 0)
            AS DOUBLE) AS dot_self,
       CAST(length(list_filter(generate_series(1, length(ws)),
                               i -> ws[i] = list_reverse(ws)[i]))
            AS BIGINT) AS palin_hits
FROM w ORDER BY doc_id
""",
)
def dialect_multiarray_lambda_roundtrip(spark, sf_dir):
    return _ch(
        spark,
        sf_dir,
        "documents",
        "__dq_docs_mal",
        """
        SELECT doc_id,
               CAST(arraySum(arrayMap((x, y) -> x * y, ws, ws))
                   AS Float64) AS dot_self,
               CAST(arrayCount((x, y) -> x = y, ws, arrayReverse(ws))
                   AS Int64) AS palin_hits
        FROM (
          SELECT doc_id,
                 arrayMap(w -> CAST(lengthUTF8(w) AS Float64),
                          arraySlice(splitByChar(' ', text), 1, 5))
                     AS ws
          FROM __dq_docs_mal WHERE doc_id < 150
        ) ORDER BY doc_id
        """,
    )


# Alias-in-WHERE with the alias NAME colliding with text inside a
# WHERE string literal — the r12 judge's reproduction of the
# fallback's literal corruption (engine.py `_sql_with_alias_fallback`,
# fixed r13: quote-masked, outer-clause-scoped substitution). Routes
# through BigHouseEngine because the retry lives THERE, not in the
# transpiler; a corrupted literal matches nothing → row-count
# mismatch, so the driver row is a real canary. DuckDB recomputes
# with the expression spelled out in WHERE (ANSI: no alias there).
@query(
    "dialect_alias_where_literal_roundtrip",
    oracle="""
SELECT lower(c_mktsegment) AS s, CAST(count(*) AS BIGINT) AS n
FROM customer
WHERE lower(c_mktsegment) LIKE '%s%'
  AND lower(c_mktsegment) != 'no s here'
GROUP BY s ORDER BY s
""",
)
def dialect_alias_where_literal_roundtrip(spark, sf_dir):
    from bighouse_spark.engine import BigHouseEngine

    t(spark, sf_dir, "customer").createOrReplaceTempView(
        "__dq_alias_lit"
    )
    eng = BigHouseEngine(spark=spark)
    res = transpile(
        """
        SELECT lower(c_mktsegment) AS s, count() AS n
        FROM __dq_alias_lit
        WHERE s LIKE '%s%' AND s != 'no s here'
        GROUP BY s ORDER BY s
        """,
        spark,
    )
    return eng._sql_with_alias_fallback(res.sql)


# Literal shield pin (r13): join keywords, an unparenthesized-USING
# spelling, a heredoc-shaped token, and a hex-literal-shaped token
# ALL inside string literals, composed in the SAME statement with a
# real unparenthesized USING join and a real heredoc — every rewrite
# shielded this round must leave the literals byte-identical while
# the genuine forms still rewrite. DuckDB recomputes with plain
# literals and an ANSI USING join.
@query(
    "dialect_literal_shield_roundtrip",
    oracle="""
SELECT 'SEMI RIGHT JOIN' AS j, 'join USING k' AS u,
       '$$not a heredoc$$' AS h, '0x1F' AS x,
       'real heredoc' AS rh,
       n.n_name AS nation, r.r_name AS region
FROM (SELECT n_name, n_regionkey AS rk FROM nation) n
JOIN (SELECT r_name, r_regionkey AS rk FROM region) r USING (rk)
ORDER BY nation
""",
)
def dialect_literal_shield_roundtrip(spark, sf_dir):
    t(spark, sf_dir, "nation").createOrReplaceTempView("__dq_sh_n")
    t(spark, sf_dir, "region").createOrReplaceTempView("__dq_sh_r")
    return spark.sql(
        transpile(
            """
            SELECT 'SEMI RIGHT JOIN' AS j, 'join USING k' AS u,
                   '$$not a heredoc$$' AS h, '0x1F' AS x,
                   $$real heredoc$$ AS rh,
                   n.n_name AS nation, r.r_name AS region
            FROM (SELECT n_name, n_regionkey AS rk FROM __dq_sh_n) n
            JOIN (SELECT r_name, r_regionkey AS rk FROM __dq_sh_r) r
            USING rk
            ORDER BY nation
            """,
            spark,
        ).sql
    )


# Backtick-identifier pin (r13 second axis): column ALIASES whose
# text is clause/function/subscript-shaped must reach the result
# schema verbatim — before r13, `PREWHERE x` was rewritten as the
# clause and `x[1]` by the subscript pass (transpile
# backtick masking, now `dialect.lexer.mask`). DuckDB spells the same
# identifiers with ANSI double quotes; the driver compares column
# NAMES, so a corrupted alias is a schema mismatch.
@query(
    "dialect_backtick_ident_roundtrip",
    oracle="""
SELECT r_regionkey AS "PREWHERE x", r_name AS "x[1]",
       length(r_name) AS "GROUP BY n WITH TOTALS"
FROM region ORDER BY 1
""",
)
def dialect_backtick_ident_roundtrip(spark, sf_dir):
    t(spark, sf_dir, "region").createOrReplaceTempView("__dq_bt")
    return spark.sql(
        transpile(
            """
            SELECT r_regionkey AS `PREWHERE x`, r_name AS `x[1]`,
                   lengthUTF8(r_name) AS `GROUP BY n WITH TOTALS`
            FROM __dq_bt ORDER BY 1
            """,
            spark,
        ).sql
    )
