package graft.operators

/** The declared relational query set from SURVEY.md §2.3 (Q01–Q48).
  *
  * Each query covers one or more operator rows from SURVEY.md §2.2 (B-ids in
  * the name comments). The Spark text is executed through Catalyst; the duck
  * text is the DuckDB oracle the driver runs over the same parquet tables.
  * Where the dialects agree the two strings are identical.
  *
  * Determinism conventions (SURVEY.md §2.3): every query ends in a total
  * ORDER BY; every aggregate/computed output is CAST to a pinned concrete
  * type in BOTH dialects so values and schemas hash-compare equal.
  */
object Queries {

  /** One declared driver query (Spark text + DuckDB oracle text).
    *
    * Standing convention: NO array/map/struct-typed OUTPUT columns in driver
    * rows — the driver's pandas-based checker sorts/hashes result cells and
    * throws `unhashable type: 'numpy.ndarray'` on nested values (q52 was red
    * in r4 for exactly this). Nested types may appear freely in intermediate
    * expressions; the projected outputs must be scalars (use `array_join` /
    * `array_to_string` to flatten).
    *
    * `materialize` names CTEs of the Spark text that the driver computes
    * once instead of once per reference ([[graft.ext.Stages.sql]]). It is
    * part of the row's data, like its texts: it moves where the plan is
    * cut, never what the query returns.
    */
  final case class Q(name: String, spark: String, duck: String,
                     materialize: Seq[String] = Nil)
  object Q {
    def same(name: String, sql: String, materialize: Seq[String] = Nil): Q =
      Q(name, sql, sql, materialize)
  }

  val all: Seq[Q] = Seq(
    // Q01 (B1,B9) full scan + projection — analog of dust's
    // `SELECT * FROM foo` golden (reference db/src/db.rs:413).
    Q.same("q01_scan",
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),

    // Q02 (B8) parquet scan with column pruning
    Q.same("q02_prune",
      "SELECT n_name FROM nation ORDER BY n_name"),

    // Q03 (B11,B12) equality filter (reference db/src/db.rs:420-425)
    Q.same("q03_filter",
      """SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin),

    // Q04 (B10) int||text concat (reference db/src/db.rs:499-504)
    Q.same("q04_concat",
      """SELECT CAST(o_orderkey AS STRING) || '_bar' AS k FROM orders
        |WHERE o_orderkey <= 20 ORDER BY k""".stripMargin),

    // Q05 (B13) range + boolean predicates
    Q.same("q05_pred",
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_discount > 0.05
        |  AND NOT l_returnflag = 'A'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Q06 (B13) IN + IS NULL
    Q.same("q06_in_null",
      """SELECT o_orderkey FROM orders
        |WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_custkey IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin),

    // Q07 (B14) LIKE
    Q.same("q07_like",
      """SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%widget%'
        |ORDER BY p_partkey""".stripMargin),

    // Q08 (B15,B16,B55) CASE + CAST + coalesce/nullif.
    // FLOOR before BIGINT cast: Spark truncates double->bigint, DuckDB
    // rounds — FLOOR pins both to the same value.
    Q.same("q08_case_cast",
      """SELECT o_orderkey,
        |       CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS sz,
        |       COALESCE(NULLIF(o_orderstatus,'O'), 'open') AS st,
        |       CAST(FLOOR(o_totalprice) AS BIGINT) AS tp
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Q09 (B17) inner equi-join (reference db/src/db.rs:465-490)
    Q.same("q09_join",
      """SELECT c.c_custkey, c.c_name, n.n_name
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY c.c_custkey""".stripMargin),

    // Q10 (B18) left outer join
    Q.same("q10_left_join",
      """SELECT n.n_nationkey, n.n_name, s.s_suppkey
        |FROM nation n LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
        |ORDER BY n.n_nationkey, s.s_suppkey NULLS FIRST""".stripMargin),

    // Q11 (B19) cross join
    Q.same("q11_cross",
      """SELECT r.r_name, s.s_suppkey FROM region r CROSS JOIN supplier s
        |ORDER BY r.r_name, s.s_suppkey""".stripMargin),

    // Q12 (B20) theta/range join
    Q.same("q12_theta",
      """SELECT a.s_suppkey AS s1, b.s_suppkey AS s2
        |FROM supplier a JOIN supplier b ON a.s_acctbal < b.s_acctbal
        |ORDER BY s1, s2""".stripMargin),

    // Q13 (B21) semi join via EXISTS
    Q.same("q13_semi",
      """SELECT p.p_partkey FROM part p
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
        |              AND l.l_quantity > 45)
        |ORDER BY p.p_partkey""".stripMargin),

    // Q14 (B22) anti join via NOT EXISTS (the totalprice predicate keeps the
    // result non-empty at every SF — plain "customer with no orders" has 0
    // matches in this testdata)
    Q.same("q14_anti",
      """SELECT c.c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_totalprice > 300000)
        |ORDER BY c.c_custkey""".stripMargin),

    // Q15 (B23) self join
    Q.same("q15_self_join",
      """SELECT a.c_custkey AS c1, b.c_custkey AS c2
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE a.c_acctbal > 9000 AND b.c_acctbal > 9000
        |ORDER BY c1, c2""".stripMargin),

    // Q16 (B24,B50) 4-way join through derived table
    Q.same("q16_multiway",
      """SELECT t.r_name, t.n_name, COUNT(*) AS suppliers
        |FROM (SELECT r.r_name, n.n_name, s.s_suppkey
        |      FROM region r
        |      JOIN nation n ON n.n_regionkey = r.r_regionkey
        |      JOIN supplier s ON s.s_nationkey = n.n_nationkey) t
        |GROUP BY t.r_name, t.n_name ORDER BY t.r_name, t.n_name""".stripMargin),

    // Q17 (B25,B32) counts + exact distinct (oracle twin of approx_count_distinct)
    Q.same("q17_count_distinct",
      """SELECT COUNT(*) AS n, COUNT(DISTINCT l_partkey) AS d_parts,
        |       COUNT(DISTINCT l_suppkey) AS d_supps
        |FROM lineitem""".stripMargin),

    // Q18 (B26,B27) TPC-H Q1-style hash aggregation. Decimal arithmetic
    // inside (cross-engine determinism), final outputs cast to DOUBLE so the
    // driver's canonical rendering agrees between parquet and DuckDB
    // (decimal `x.00` vs float `x.0` hash-mismatch otherwise).
    // r15: sum_qty/sum_price sum BIGINT cents per row on the Spark side
    // (see the q77 note); the exact integer sum divides back at group
    // level (decimal ÷100, exact at scale 6, one correctly-rounded
    // decimal→double — identical doubles to the old per-row-decimal sum).
    // avg_disc keeps the decimal AVG: its value depends on decimal
    // HALF_UP rounding at scale 8, which an integer reformulation would
    // have to re-implement to the digit for zero win on one column. The
    // DuckDB twin keeps the old text (new-vs-old pinned by the driver).
    Q("q18_tpch_q1",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sum_qty,
        |       CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sum_price,
        |       CAST(CAST(AVG(CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS avg_disc,
        |       COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      """SELECT l_returnflag, l_linestatus,
        |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
        |       CAST(CAST(AVG(CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS avg_disc,
        |       COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Q19 (B28) HAVING
    Q.same("q19_having",
      """SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
        |HAVING COUNT(*) >= 3 ORDER BY o_custkey""".stripMargin),

    // Q20 (B29) DISTINCT
    Q.same("q20_distinct",
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority"),

    // Q21 (B30) ordered string aggregation ◊
    Q("q21_string_agg",
      """SELECT n_regionkey,
        |       array_join(sort_array(collect_list(n_name)), ',') AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
      """SELECT n_regionkey,
        |       string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // Q22 (B31) ROLLUP; GROUPING() pinned to INT in both dialects
    Q.same("q22_rollup",
      """SELECT n_regionkey, n_nationkey, COUNT(*) AS c,
        |       CAST(GROUPING(n_regionkey) AS INT) AS g1,
        |       CAST(GROUPING(n_nationkey) AS INT) AS g2
        |FROM nation GROUP BY ROLLUP(n_regionkey, n_nationkey)
        |ORDER BY g1, g2, n_regionkey NULLS FIRST, n_nationkey NULLS FIRST""".stripMargin),

    // Q23 (B31) CUBE
    Q.same("q23_cube",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS c,
        |       CAST(GROUPING(l_returnflag) AS INT) AS g1,
        |       CAST(GROUPING(l_linestatus) AS INT) AS g2
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // Q24 (B33) filtered aggregation
    Q.same("q24_filter_agg",
      """SELECT o_custkey,
        |       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS done,
        |       COUNT(*) FILTER (WHERE o_orderstatus <> 'F') AS open
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // Q25 (B34,B38) ranking windows
    Q.same("q25_rank",
      """SELECT c_custkey, c_nationkey,
        |       ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rk,
        |       DENSE_RANK() OVER w AS drk, NTILE(4) OVER w AS nt
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_nationkey, rn""".stripMargin),

    // Q26 (B35) lag/lead
    Q.same("q26_lag_lead",
      """SELECT o_custkey, o_orderkey,
        |       LAG(o_orderkey)  OVER w AS prev_o,
        |       LEAD(o_orderkey) OVER w AS next_o
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Q27 (B36) first/last value with explicit frame. (l_orderkey,
    // l_linenumber) is NOT unique in the testdata, so the window order
    // carries partkey+suppkey tiebreaks to stay deterministic.
    Q.same("q27_first_last",
      """SELECT l_orderkey, l_linenumber,
        |       FIRST_VALUE(l_partkey) OVER w AS fv,
        |       LAST_VALUE(l_partkey)  OVER (PARTITION BY l_orderkey
        |         ORDER BY l_linenumber, l_partkey, l_suppkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey
        |             ORDER BY l_linenumber, l_partkey, l_suppkey)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Q28 (B37) running sum with ROWS frame (decimal-pinned)
    Q.same("q28_running_sum",
      """SELECT o_custkey, o_orderkey,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS run
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Q29 (B39) top-3 per group
    Q.same("q29_topk_group",
      """SELECT * FROM (
        |  SELECT s_nationkey, s_suppkey,
        |         ROW_NUMBER() OVER (PARTITION BY s_nationkey
        |                            ORDER BY s_acctbal DESC, s_suppkey) AS rn
        |  FROM supplier) t
        |WHERE rn <= 3 ORDER BY s_nationkey, rn""".stripMargin),

    // Q30 (B40,B43) multi-key sort, explicit null order
    Q.same("q30_sort",
      """SELECT c_custkey, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC""".stripMargin),

    // Q31 (B41,B42) top-k + offset
    Q.same("q31_limit_offset",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5""".stripMargin),

    // Q32 (B44,B45) union / union all
    Q.same("q32_union",
      """SELECT x FROM (
        |  SELECT c_nationkey AS x FROM customer
        |  UNION SELECT s_nationkey AS x FROM supplier) t ORDER BY x""".stripMargin),

    // Q33 (B46,B47) intersect / except
    Q.same("q33_except",
      """SELECT x FROM (
        |  SELECT c_nationkey AS x FROM customer
        |  EXCEPT SELECT s_nationkey FROM supplier) t ORDER BY x""".stripMargin),

    // Q34 (B48) scalar subquery
    Q.same("q34_scalar_subq",
      """SELECT o_orderkey FROM orders
        |WHERE o_totalprice > (SELECT AVG(CAST(o_totalprice AS DECIMAL(18,2))) * 1.5
        |                      FROM orders)
        |ORDER BY o_orderkey""".stripMargin),

    // Q35 (B49) correlated scalar subquery
    Q.same("q35_corr_subq",
      """SELECT c.c_custkey,
        |       (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n
        |FROM customer c ORDER BY c.c_custkey""".stripMargin),

    // Q36 (B51) CTE
    Q.same("q36_cte",
      """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
        |SELECT c.c_custkey FROM customer c JOIN big b ON b.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin),

    // Q37 (B53) VALUES inline relation
    Q.same("q37_values",
      """SELECT v.id, v.tag FROM (VALUES (1,'a'), (2,'b'), (3,'c')) AS v(id, tag)
        |ORDER BY v.id""".stripMargin),

    // Q38 (B54) string functions
    Q.same("q38_strings",
      """SELECT p_partkey, LOWER(p_brand) AS lb, UPPER(p_type) AS ut,
        |       SUBSTR(p_name, 1, 5) AS s5, CAST(LENGTH(p_name) AS BIGINT) AS len,
        |       REPLACE(p_brand, '#', '-') AS rep, TRIM(p_name) AS tr
        |FROM part ORDER BY p_partkey""".stripMargin),

    // Q39 (B56) math functions (decimal/bigint-pinned outputs)
    Q.same("q39_math",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(ABS(CAST(l_discount - 0.05 AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS adev,
        |       CAST(ROUND(l_extendedprice, 0) AS BIGINT) AS rp,
        |       CAST(FLOOR(l_quantity) AS BIGINT) AS fq,
        |       CAST(CEIL(l_quantity) AS BIGINT) AS cq,
        |       CAST(l_linenumber % 2 AS INT) AS parity
        |FROM lineitem WHERE l_orderkey <= 50 ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Q40 (B57) date/time
    Q.same("q40_datetime",
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
        |       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
        |       COUNT(*) AS n,
        |       MIN(CAST(date_trunc('DAY', o_orderdate) AS DATE)) AS first_day
        |FROM orders GROUP BY 1, 2
        |ORDER BY y, m""".stripMargin),

    // Q41 (B58) JSON extraction ◊
    Q("q41_json",
      """SELECT event_id, get_json_object(props, '$.device') AS device
        |FROM events ORDER BY event_id""".stripMargin,
      """SELECT event_id, json_extract_string(props, '$.device') AS device
        |FROM events ORDER BY event_id""".stripMargin),

    // Q42 (B60) array ops over embeddings ◊
    Q("q42_array",
      """SELECT vec_id, CAST(SIZE(embedding) AS INT) AS dim,
        |       CAST(CAST(ROUND(AGGREGATE(embedding, CAST(0.0 AS DOUBLE),
        |            (acc, x) -> acc + CAST(x AS DOUBLE)), 4) AS DECIMAL(18,4)) AS DOUBLE) AS vsum
        |FROM embeddings ORDER BY vec_id""".stripMargin,
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |       CAST(CAST(ROUND(list_sum(list_transform(embedding,
        |            x -> CAST(x AS DOUBLE))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS vsum
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // Q43 (B62) tumbling-window batch twin over events
    Q.same("q43_tumbling",
      """SELECT CAST(date_trunc('HOUR', ts) AS TIMESTAMP) AS h, event_type,
        |       COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS v
        |FROM events GROUP BY 1, 2
        |ORDER BY h, event_type""".stripMargin),

    // Q44 (B63) sliding-window twin — 3-row moving average per user
    Q.same("q44_sliding",
      """SELECT user_id, event_id,
        |       CAST(CAST(AVG(CAST(value AS DECIMAL(18,4))) OVER
        |         (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(18,4)) AS DOUBLE) AS mavg
        |FROM events ORDER BY user_id, event_id""".stripMargin),

    // Q45 (B68,B72) embedding dot product within label blocks ◊
    Q("q45_dot",
      """SELECT a.vec_id AS qa, b.vec_id AS qb,
        |       CAST(CAST(ROUND(AGGREGATE(ZIP_WITH(a.embedding, b.embedding,
        |            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 4) AS DECIMAL(18,4)) AS DOUBLE) AS dot
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE a.vec_id <= 25 ORDER BY qa, qb""".stripMargin,
      """SELECT a.vec_id AS qa, b.vec_id AS qb,
        |       CAST(CAST(ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), 4)
        |            AS DECIMAL(18,4)) AS DOUBLE) AS dot
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE a.vec_id <= 25 ORDER BY qa, qb""".stripMargin),

    // Q46 (B69,B71) exact-duplicate detection twin of MinHash dedup
    Q.same("q46_exact_dup",
      """SELECT text, COUNT(*) AS n, MIN(doc_id) AS keeper
        |FROM documents GROUP BY text HAVING COUNT(*) > 1 ORDER BY keeper""".stripMargin),

    // Q47 (B70,B73) tokenize (generator) + token counts ◊
    Q("q47_tokenize",
      """SELECT tok, COUNT(*) AS n FROM (
        |  SELECT EXPLODE(SPLIT(LOWER(text), ' ')) AS tok FROM documents
        |  WHERE lang = 'en') t
        |WHERE tok <> '' GROUP BY tok HAVING COUNT(*) >= 10 ORDER BY n DESC, tok""".stripMargin,
      """SELECT tok, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(LOWER(text), ' ')) AS tok FROM documents
        |  WHERE lang = 'en') t
        |WHERE tok <> '' GROUP BY tok HAVING COUNT(*) >= 10 ORDER BY n DESC, tok""".stripMargin),

    // Q48 (B73) text stats per source/lang
    Q.same("q48_text_stats",
      """SELECT source, lang, COUNT(*) AS docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars, MAX(n_chars) AS maxlen
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin),

    // Q49 (B52) recursive CTE — supported by Spark 4.x and DuckDB alike
    Q.same("q49_recursive_cte",
      """WITH RECURSIVE seq(n) AS (
        |  SELECT 0 UNION ALL SELECT n + 1 FROM seq WHERE n < 9)
        |SELECT CAST(s.n AS INT) AS n, r.r_name FROM seq s
        |JOIN region r ON s.n % 5 = r.r_regionkey
        |ORDER BY n, r_name""".stripMargin),

    // Q50 (B38) percent_rank / cume_dist (deterministic rank-derived
    // doubles, pinned at 6 decimals)
    // FLOOR(x*1e6 + 0.5)/1e6, not ROUND(x, 6): percent_rank/cume_dist are
    // small-denominator rationals whose doubles land EXACTLY on .5
    // rounding boundaries (e.g. cume_dist = 0.5203125 at sf0.1), where
    // Spark rounds half-up and DuckDB half-even — the floor form is the
    // same IEEE ops in both engines (the x73 pattern).
    Q.same("q50_pct_rank",
      """SELECT c_custkey,
        |       CAST(CAST(FLOOR(PERCENT_RANK() OVER w * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS DOUBLE) AS pr,
        |       CAST(CAST(FLOOR(CUME_DIST() OVER w * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS DOUBLE) AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // Q51 (B64) session window, batch twin — the islands formulation
    // (gap-break flag via lag, session id via running sum) is expressible
    // identically in both dialects, which turns the session-window operator
    // from spec-only into an oracle-hashed one. The streaming counterpart
    // (session_window + watermark) is exercised in EventStreamsSpec.
    Q.same("q51_session",
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > INTERVAL '6' HOUR
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_id,
        |       COUNT(*) AS n_events,
        |       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_id""".stripMargin),

    // Q52 (B61) map functions — the testdata has no map column, so the map
    // is BUILT at query time and consumed via element_at/map_keys; scalar
    // extraction keeps the compared outputs dialect-portable. map_keys is
    // flattened through array_join per the no-nested-outputs convention on Q
    // (the raw array column was r4's only red driver row).
    Q("q52_map",
      """SELECT n_regionkey,
        |       element_at(m, 'count') AS cnt,
        |       element_at(m, 'minkey') AS mink,
        |       array_join(map_keys(m), ',') AS ks
        |FROM (SELECT n_regionkey,
        |             map_from_arrays(array('count', 'minkey'),
        |               array(CAST(COUNT(*) AS BIGINT),
        |                     CAST(MIN(n_nationkey) AS BIGINT))) AS m
        |      FROM nation GROUP BY n_regionkey)
        |ORDER BY n_regionkey""".stripMargin,
      """SELECT n_regionkey,
        |       m['count'][1] AS cnt,
        |       m['minkey'][1] AS mink,
        |       array_to_string(map_keys(m), ',') AS ks
        |FROM (SELECT n_regionkey,
        |             MAP(['count', 'minkey'],
        |                 [CAST(COUNT(*) AS BIGINT),
        |                  CAST(MIN(n_nationkey) AS BIGINT)]) AS m
        |      FROM nation GROUP BY n_regionkey)
        |ORDER BY n_regionkey""".stripMargin),

    // Q53 (B18 family) RIGHT OUTER JOIN — SURVEY §2.2 lists right/full as
    // native extensions over the reference's LEFT-only surface. The acctbal
    // predicate lives in the ON clause so null-extended nation rows survive
    // (a WHERE would turn this back into an inner join).
    Q.same("q53_right_join",
      """SELECT n.n_nationkey, n.n_name, s.s_suppkey
        |FROM supplier s RIGHT JOIN nation n
        |  ON s.s_nationkey = n.n_nationkey AND s.s_acctbal > 9000
        |ORDER BY n.n_nationkey, s.s_suppkey NULLS FIRST""".stripMargin),

    // Q54 (B18 family) FULL OUTER JOIN over two sparse aggregates — the
    // tight acctbal filters make each side miss nations the other has, so
    // both null-extension directions are exercised. COALESCE key keeps the
    // ORDER BY total.
    Q.same("q54_full_join",
      """SELECT c.k AS ck, s.k AS sk, c.nc AS nc, s.ns AS ns
        |FROM (SELECT c_nationkey AS k, COUNT(*) AS nc FROM customer
        |      WHERE c_acctbal > 9900 GROUP BY c_nationkey) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS k, COUNT(*) AS ns FROM supplier
        |      WHERE s_acctbal > 8000 GROUP BY s_nationkey) s
        |  ON c.k = s.k
        |ORDER BY COALESCE(c.k, s.k), ck NULLS FIRST""".stripMargin),

    // Q58 (B31 family) PIVOT — Spark's native PIVOT clause (one scan, one
    // hash aggregate on the group key; the pivot columns are a map-side
    // CASE fan-out, not a join). DuckDB's twin is the portable
    // CASE-per-column formulation with identical output names; '4-NOT
    // SPECIFIED' is deliberately left out of the IN list to pin that
    // unlisted pivot values drop.
    Q("q58_pivot",
      """SELECT CAST(yr AS INT) AS yr, urgent, high, medium, low FROM (
        |  SELECT year(o_orderdate) AS yr, o_orderpriority AS p, o_totalprice
        |  FROM orders)
        |PIVOT (CAST(CAST(ROUND(SUM(o_totalprice), 2) AS DECIMAL(18,2)) AS DOUBLE)
        |       FOR p IN ('1-URGENT' AS urgent, '2-HIGH' AS high,
        |                 '3-MEDIUM' AS medium, '5-LOW' AS low))
        |ORDER BY yr""".stripMargin,
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='1-URGENT' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS urgent,
        |  CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='2-HIGH' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS high,
        |  CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='3-MEDIUM' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS medium,
        |  CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='5-LOW' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS low
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin),

    // Q59 (B31 family) GROUPING SETS + GROUPING() — the explicit-sets form
    // (rollup/cube are q22/q23); the GROUPING flags disambiguate real NULLs
    // from superaggregate rows. One Expand + one hash aggregate in Spark.
    Q.same("q59_grouping_sets",
      """SELECT c_mktsegment, n_name,
        |  CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
        |  CAST(GROUPING(n_name) AS INT) AS g_nat,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(CAST(ROUND(SUM(c_acctbal), 2) AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        |ORDER BY g_seg, g_nat, c_mktsegment, n_name""".stripMargin),

    // Q60 (B37 family) value-based RANGE window frame — q27/q28 pin ROWS
    // frames; this pins the RANGE form (peers by value distance, not row
    // count). PARTITION BY nation keeps the window parallel (an unkeyed
    // RANGE window is a single-partition sort — the WindowExec warning —
    // which is exactly what a 100 TB plan must not contain).
    Q.same("q60_range_frame",
      """SELECT s_suppkey, s_acctbal,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_near,
        |  CAST(CAST(ROUND(SUM(s_acctbal) OVER w, 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_near
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal
        |             RANGE BETWEEN 500.0 PRECEDING AND CURRENT ROW)
        |ORDER BY s_suppkey""".stripMargin),

    // Q62 (B26 family) exact interpolated percentiles — Spark `percentile`
    // and DuckDB `quantile_cont` share the linear-interpolation definition,
    // so the values hash-compare after the usual DECIMAL pin.
    // SCALE NOTE: exact percentile's aggregation buffer holds every
    // distinct (value, count) of the group — at 100× per-group cardinality
    // that is an executor-memory hazard. This row stays for oracle
    // exactness at test sf; q84_quantile_approx is the bounded-memory
    // sketch variant a 100 TB job should run (see its comment).
    Q("q62_quantile",
      """SELECT o_orderpriority,
        |  CAST(CAST(ROUND(percentile(o_totalprice, 0.25), 2) AS DECIMAL(18,2)) AS DOUBLE) AS p25,
        |  CAST(CAST(ROUND(percentile(o_totalprice, 0.5), 2) AS DECIMAL(18,2)) AS DOUBLE) AS p50,
        |  CAST(CAST(ROUND(percentile(o_totalprice, 0.75), 2) AS DECIMAL(18,2)) AS DOUBLE) AS p75,
        |  CAST(CAST(ROUND(percentile(o_totalprice, 0.99), 2) AS DECIMAL(18,2)) AS DOUBLE) AS p99
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      """SELECT o_orderpriority,
        |  CAST(CAST(ROUND(quantile_cont(o_totalprice, 0.25), 2) AS DECIMAL(18,2)) AS DOUBLE) AS p25,
        |  CAST(CAST(ROUND(quantile_cont(o_totalprice, 0.5), 2) AS DECIMAL(18,2)) AS DOUBLE) AS p50,
        |  CAST(CAST(ROUND(quantile_cont(o_totalprice, 0.75), 2) AS DECIMAL(18,2)) AS DOUBLE) AS p75,
        |  CAST(CAST(ROUND(quantile_cont(o_totalprice, 0.99), 2) AS DECIMAL(18,2)) AS DOUBLE) AS p99
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Q84 (B26/B33 family) sketch quantile — the 100 TB posture for q62.
    // Exact `percentile` buffers every distinct (value, count) per group in
    // the aggregation buffer, an executor-memory hazard when per-group
    // cardinality scales 100× (same reason B32 pairs exact COUNT(DISTINCT)
    // with HLL). `approx_percentile` keeps a bounded Greenwald–Khanna
    // summary (size ~ accuracy, independent of group cardinality) and is
    // the variant a cluster job should use. The sketch's exact interior is
    // engine-specific, so — the x59/x62 recall-check pattern — the driver
    // row asserts the ε-bound as a deterministic boolean next to the
    // DECIMAL-pinned exact value. The bound covers TWO error sources:
    // the sketch's rank error (≤ n/accuracy — ~3 rows at sf0.1's
    // ~30k-row groups, 0 rows below 10k) AND the interpolation gap —
    // exact `percentile` interpolates between the two middle order
    // statistics on even-sized groups while the sketch returns an actual
    // data value, so on SMALL groups the ratio is bounded by the
    // adjacent-value gap around the median, not by the sketch (measured:
    // 1.10% on sf0.001's 316-row 2-HIGH group — which is why the
    // original 1% bound was an inherited sf0.001 red, fixed r15; ≤0.06%
    // at sf0.01, 0 at sf0.1). 2.5% covers the measured worst case with
    // 2.3× margin and tightens as n grows on both axes.
    Q("q84_quantile_approx",
      """SELECT o_orderpriority,
        |  CAST(CAST(ROUND(percentile(o_totalprice, 0.5), 2) AS DECIMAL(18,2)) AS DOUBLE) AS p50_exact,
        |  (abs(approx_percentile(o_totalprice, 0.5, 10000)
        |       / percentile(o_totalprice, 0.5) - 1.0) <= 0.025) AS approx_ok
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      """SELECT o_orderpriority,
        |  CAST(CAST(ROUND(quantile_cont(o_totalprice, 0.5), 2) AS DECIMAL(18,2)) AS DOUBLE) AS p50_exact,
        |  TRUE AS approx_ok
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Q85 (B57 family) VARIANT semi-structured type (Spark 4.x) — q41
    // reads JSON with string path extraction; this row parses once into
    // the binary VARIANT encoding and does typed extraction
    // (variant_get with a target type) plus a missing-path try_ probe.
    // At scale VARIANT beats per-access get_json_object: one parse, typed
    // access, no per-path re-tokenization. DuckDB's JSON type plays the
    // same role in the twin.
    Q("q85_variant",
      """SELECT event_id,
        |  CAST(variant_get(parse_json(props), '$.k', 'bigint') AS BIGINT) AS k,
        |  try_variant_get(parse_json(props), '$.device', 'string') AS device
        |FROM events ORDER BY event_id""".stripMargin,
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  json_extract_string(props, '$.device') AS device
        |FROM events ORDER BY event_id""".stripMargin),

    // Q87 (B10/B16 family) collated comparison (Spark 4.x) — predicate
    // evaluation under a case-insensitive collation instead of wrapping
    // every operand in lower() (which blocks pushdown and per-row
    // re-derives the fold); DuckDB plays the twin with the lower()
    // rewrite, which is the semantic definition of UTF8_LCASE equality.
    Q("q87_collation",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_name COLLATE UTF8_LCASE IN
        |  ('CUSTOMER#000000007', 'customer#000000011', 'CusTomer#000000013')
        |ORDER BY c_custkey""".stripMargin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE lower(c_name) IN
        |  ('customer#000000007', 'customer#000000011', 'customer#000000013')
        |ORDER BY c_custkey""".stripMargin),

    // Q88 funnel analysis — the ordered-sequence event query (did the user
    // view, THEN click within 12 h, THEN purchase within 12 h?) every
    // product-analytics engine ships. The min-ts chaining form (step N's
    // candidate events must fall in (prev_ts, prev_ts + horizon]) is three hash
    // aggregates + three equi-joins ALL keyed on user_id: one partitioning
    // reused across every stage, no window over the full event stream, no
    // per-user event-list materialization — at 100 TB each step's frame is
    // |users| rows, not |events|, and AQE broadcasts the shrinking step
    // frames. convert_sec stays in integer seconds (epoch subtraction) so
    // the twin is exact, not float-rounded.
    Q("q88_funnel",
      """WITH v AS (SELECT user_id, MIN(ts) AS ts1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS ts2 FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.ts1
        |        AND e.ts <= v.ts1 + INTERVAL 12 HOUR GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS ts3 FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.ts2
        |        AND e.ts <= c.ts2 + INTERVAL 12 HOUR GROUP BY e.user_id)
        |SELECT v.user_id,
        |       CASE WHEN p.user_id IS NOT NULL THEN 3
        |            WHEN c.user_id IS NOT NULL THEN 2 ELSE 1 END AS step_reached,
        |       v.ts1 AS first_view,
        |       (unix_micros(p.ts3) - unix_micros(v.ts1)) DIV 1000000 AS convert_sec
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,
      """WITH v AS (SELECT user_id, MIN(ts) AS ts1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS ts2 FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.ts1
        |        AND e.ts <= v.ts1 + INTERVAL 12 HOUR GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS ts3 FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.ts2
        |        AND e.ts <= c.ts2 + INTERVAL 12 HOUR GROUP BY e.user_id)
        |SELECT v.user_id,
        |       CASE WHEN p.user_id IS NOT NULL THEN 3
        |            WHEN c.user_id IS NOT NULL THEN 2 ELSE 1 END AS step_reached,
        |       v.ts1 AS first_view,
        |       (epoch_us(p.ts3) - epoch_us(v.ts1)) // 1000000 AS convert_sec
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin),

    // Q89 cohort retention — the (cohort week × week offset → active
    // users) matrix behind every retention curve. Weeks are integer
    // epoch-week indexes (epoch_sec div 604800) so both engines derive
    // the same grid with no calendar/locale semantics in play. Shape: one
    // DISTINCT on (user_id, week) — the only shuffle proportional to
    // |events| — then a user-keyed min-agg and a user-keyed join, then an
    // aggregate on |cohorts|×|offsets| keys (tiny). The cohort frame is
    // |users| rows; at 100 TB AQE broadcasts it into the activity join.
    Q("q89_retention",
      """WITH a AS (SELECT DISTINCT user_id,
        |             CAST(unix_micros(ts) DIV 604800000000 AS INT) AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort FROM a GROUP BY user_id)
        |SELECT f.cohort, a.wk - f.cohort AS week_offset,
        |       CAST(COUNT(*) AS BIGINT) AS active_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY f.cohort, a.wk - f.cohort
        |ORDER BY cohort, week_offset""".stripMargin,
      """WITH a AS (SELECT DISTINCT user_id,
        |             CAST(epoch_us(ts) // 604800000000 AS INT) AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort FROM a GROUP BY user_id)
        |SELECT f.cohort, a.wk - f.cohort AS week_offset,
        |       CAST(COUNT(*) AS BIGINT) AS active_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY f.cohort, a.wk - f.cohort
        |ORDER BY cohort, week_offset""".stripMargin),

    // Q90 time-series gap fill + forward fill — regularize an event stream
    // onto a daily calendar spine (missing days materialized with n=0) and
    // carry the last observed daily sum forward (last_value IGNORE NULLS).
    // The spine is generated per user from its own [min_day, max_day] span
    // (sequence + explode: map-side, |users|·|span| rows, no driver
    // calendar), the spine⋈daily join and the ffill window both key on
    // user_id — one partitioning end-to-end. This is the batch form of the
    // as-of/ffill resample every metrics pipeline needs; at 100 TB the
    // span explode is the only row amplification and it is bounded by the
    // calendar length, not the event count.
    Q("q90_gap_fill",
      """WITH daily AS (SELECT user_id, CAST(date_trunc('DAY', ts) AS DATE) AS d,
        |                      CAST(COUNT(*) AS BIGINT) AS n,
        |                      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
        |               FROM events GROUP BY user_id, CAST(date_trunc('DAY', ts) AS DATE)),
        |span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY user_id),
        |spine AS (SELECT user_id, explode(sequence(d0, d1)) AS d FROM span),
        |j AS (SELECT s.user_id, s.d, daily.n, daily.v
        |      FROM spine s LEFT JOIN daily
        |        ON s.user_id = daily.user_id AND s.d = daily.d)
        |SELECT user_id, d, COALESCE(n, 0) AS n,
        |       CAST(last_value(v) IGNORE NULLS OVER (
        |            PARTITION BY user_id ORDER BY d
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_ffill
        |FROM j ORDER BY user_id, d""".stripMargin,
      """WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
        |                      CAST(COUNT(*) AS BIGINT) AS n,
        |                      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
        |               FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY user_id),
        |spine AS (SELECT user_id,
        |            CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        |          FROM span),
        |j AS (SELECT s.user_id, s.d, daily.n, daily.v
        |      FROM spine s LEFT JOIN daily
        |        ON s.user_id = daily.user_id AND s.d = daily.d)
        |SELECT user_id, d, COALESCE(n, 0) AS n,
        |       CAST(last_value(v IGNORE NULLS) OVER (
        |            PARTITION BY user_id ORDER BY d
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS v_ffill
        |FROM j ORDER BY user_id, d""".stripMargin),

    // Q91 event-transition matrix — first-order Markov transitions over
    // per-user event sequences (the sequence-mining primitive behind
    // next-action prediction and path analysis). One LEAD window per user
    // (the only shuffle proportional to |events|) feeding an aggregate on
    // |types|² keys — transition matrices stay tiny no matter the corpus.
    // The (ts, event_id) order key makes the sequence total, so the
    // matrix is deterministic under any partitioning.
    Q.same("q91_transitions",
      """WITH s AS (SELECT user_id, event_type,
        |             LEAD(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY ts, event_id) AS nxt
        |           FROM events)
        |SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS n
        |FROM s WHERE nxt IS NOT NULL
        |GROUP BY event_type, nxt ORDER BY src, dst""".stripMargin),

    // Q92 trailing-window z-score anomaly detection — each user-day's
    // value scored against its own previous ≤7 days (frame excludes the
    // current row, so the score never explains itself). The q77 idiom
    // keeps it engine-exact: mean and sample-stddev derive from windowed
    // SUM(v)/SUM(v·v) over DECIMAL (exact in both engines), so the only
    // float ops run on bit-identical inputs and the 3dp half-up rounding
    // is deterministic. Shape: one daily hash agg + one user-keyed window
    // — same partitioning, no extra shuffle; at 100 TB this is the
    // standard streaming-compatible anomaly scan (the frame is row-
    // bounded, never whole-history).
    Q.same("q92_anomaly",
      """WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
        |                      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
        |               FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)),
        |w AS (SELECT user_id, d, v,
        |        CAST(SUM(v) OVER tw AS DOUBLE) AS s1,
        |        CAST(SUM(v * v) OVER tw AS DOUBLE) AS s2,
        |        CAST(COUNT(*) OVER tw AS DOUBLE) AS cnt
        |      FROM daily
        |      WINDOW tw AS (PARTITION BY user_id ORDER BY d
        |                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, d,
        |       CAST(CAST(FLOOR((CAST(v AS DOUBLE) - s1 / cnt)
        |            / SQRT((cnt * s2 - s1 * s1) / (cnt * (cnt - 1.0)))
        |            * 1000.0 + 0.5) / 1000.0 AS DECIMAL(18,3)) AS DOUBLE) AS z
        |FROM w
        |WHERE cnt >= 4 AND (cnt * s2 - s1 * s1) > 0.000001
        |ORDER BY user_id, d""".stripMargin),

    // Q93 equi-depth histogram — decile bin edges + counts via NTILE over
    // a total order (value, key) so ties break deterministically. This is
    // the one-column form of the statistics pass planners build histograms
    // from; the q62/q84 family covers quantile POINTS, this row pins the
    // BIN semantics (every bucket's lo/hi/count). One window sort is the
    // only shuffle; at 100 TB the same result would come from
    // approx_percentile edges (q84's sketch posture) — NTILE is the exact
    // oracle-checkable form.
    Q.same("q93_histogram",
      """WITH b AS (SELECT o_totalprice,
        |             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |           FROM orders)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
        |       CAST(MAX(o_totalprice) AS DOUBLE) AS hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Q94 linear-regression aggregates — slope / intercept / r² per group
    // (the regr_* family; the fit behind Zipf-slope and scaling-law
    // diagnostics over corpus stats). Same engine-exactness contract as
    // q77: all five moments accumulate as DECIMAL sums (exact, order-
    // independent), the closed-form estimators then run float ops on
    // bit-identical inputs, and FLOOR-half-up rounding pins the render.
    // One partial-aggregated groupBy is the whole plan — the estimator
    // is a pure post-aggregation projection at any scale.
    // r15: BIGINT-cents sums on the Spark side (see the q77 note — same
    // trade, same exactness argument, same old-text DuckDB twin pinning
    // new-vs-old identity through the driver's own hash compare).
    Q("q94_regression",
      """WITH c AS (SELECT l_returnflag,
        |        CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS cx,
        |        CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cy
        |      FROM lineitem),
        |s AS (SELECT l_returnflag,
        |        CAST(COUNT(*) AS DOUBLE) AS n,
        |        CAST(CAST(SUM(cx) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sx,
        |        CAST(CAST(SUM(cy) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sy,
        |        CAST(SUM(CAST(cx * cx AS DECIMAL(38,0))) / 10000 AS DOUBLE) AS sxx,
        |        CAST(SUM(CAST(cy * cy AS DECIMAL(38,0))) / 10000 AS DOUBLE) AS syy,
        |        CAST(SUM(CAST(cx * cy AS DECIMAL(38,0))) / 10000 AS DOUBLE) AS sxy
        |      FROM c GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000.0 + 0.5)
        |       / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS slope,
        |  CAST(CAST(FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |       * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS intercept,
        |  CAST(CAST(FLOOR((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |       / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1000000.0 + 0.5)
        |       / 1000000.0 AS DECIMAL(18,6)) AS DOUBLE) AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin,
      """WITH s AS (SELECT l_returnflag,
        |             CAST(COUNT(*) AS DOUBLE) AS n,
        |             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |             CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |             CAST(SUM(y * y) AS DOUBLE) AS syy,
        |             CAST(SUM(x * y) AS DOUBLE) AS sxy
        |           FROM (SELECT l_returnflag,
        |                   CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |                   CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |                 FROM lineitem)
        |           GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000.0 + 0.5)
        |       / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS slope,
        |  CAST(CAST(FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |       * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS intercept,
        |  CAST(CAST(FLOOR((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |       / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1000000.0 + 0.5)
        |       / 1000000.0 AS DECIMAL(18,6)) AS DOUBLE) AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin),

    // Q95 cross-source quantile normalization — every doc's length mapped
    // to its percentile WITHIN its source (the calibration step before
    // comparing quality scores across heterogeneous corpora: raw scores
    // are source-biased, ranks are not). PERCENT_RANK over a total
    // (value, key) order is deterministic, and partitioning by source
    // makes the window shuffle-bounded by the largest single source, not
    // the corpus. 6dp FLOOR rounding pins the render.
    Q.same("q95_quantile_norm",
      """WITH r AS (SELECT doc_id, source, n_chars,
        |             PERCENT_RANK() OVER (PARTITION BY source
        |                                  ORDER BY n_chars, doc_id) AS pr
        |           FROM documents)
        |SELECT doc_id, source,
        |  CAST(CAST(FLOOR(pr * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS DOUBLE) AS q_norm
        |FROM r ORDER BY doc_id""".stripMargin),

    // Q63 (B44-B47) INTERSECT / INTERSECT ALL / EXCEPT ALL — q32/q33 pin
    // UNION and EXCEPT; the tagged union here pins the multiplicity
    // semantics of the ALL variants (min-count for intersect, count
    // difference for except), which Spark plans as aggregate-generate
    // pairs, not joins.
    Q.same("q63_setops",
      """SELECT 'int' AS op, k FROM (
        |  SELECT c_nationkey AS k FROM customer
        |  INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'int_all' AS op, k FROM (
        |  SELECT c_nationkey AS k FROM customer
        |  INTERSECT ALL SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'exc_all' AS op, k FROM (
        |  SELECT c_nationkey AS k FROM customer
        |  EXCEPT ALL SELECT s_nationkey FROM supplier)
        |ORDER BY op, k""".stripMargin),

    // Q64 (B48-B51 family) LATERAL correlated derived table — top-2
    // suppliers per nation through a correlated ORDER BY/LIMIT subquery.
    // Catalyst decorrelates this into the rank-window plan (one shuffle on
    // the correlation key), so the declared nested-loop semantics execute
    // set-at-a-time — the survey's "correlated subquery" row generalized
    // from scalar (q35) to table-valued.
    Q.same("q64_lateral",
      """SELECT n.n_name, t.s_suppkey, t.s_acctbal
        |FROM nation n, LATERAL (
        |  SELECT s_suppkey, s_acctbal FROM supplier s
        |  WHERE s.s_nationkey = n.n_nationkey
        |  ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
        |ORDER BY n_name, s_suppkey""".stripMargin),

    // Q65 (B31 family) UNPIVOT — q58's inverse, columns back to rows via
    // Spark's native UNPIVOT clause (an Expand node: map-side fan-out, no
    // shuffle); the DuckDB twin is the portable UNION ALL formulation
    // with identical labels.
    Q("q65_unpivot",
      """SELECT yr, prio, amt FROM (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |    CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='1-URGENT' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS urgent,
        |    CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='2-HIGH' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS high,
        |    CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='3-MEDIUM' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS medium,
        |    CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='5-LOW' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS low
        |  FROM orders GROUP BY year(o_orderdate))
        |UNPIVOT (amt FOR prio IN (urgent, high, medium, low))
        |ORDER BY yr, prio""".stripMargin,
      """WITH p AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |    CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='1-URGENT' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS urgent,
        |    CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='2-HIGH' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS high,
        |    CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='3-MEDIUM' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS medium,
        |    CAST(CAST(ROUND(SUM(CASE WHEN o_orderpriority='5-LOW' THEN o_totalprice END),2) AS DECIMAL(18,2)) AS DOUBLE) AS low
        |  FROM orders GROUP BY 1)
        |SELECT yr, 'urgent' AS prio, urgent AS amt FROM p
        |UNION ALL SELECT yr, 'high' AS prio, high AS amt FROM p
        |UNION ALL SELECT yr, 'medium' AS prio, medium AS amt FROM p
        |UNION ALL SELECT yr, 'low' AS prio, low AS amt FROM p
        |ORDER BY yr, prio""".stripMargin),

    // Q66 (B27/B40 sugar) GROUP BY ALL + ORDER BY ALL — both dialects
    // resolve the non-aggregate output columns as the grouping set and the
    // full output list as the sort key; same text runs on both engines.
    Q.same("q66_group_by_all",
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(CAST(ROUND(SUM(l_quantity), 2) AS DECIMAL(18,2)) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin),

    // Q67 (B37/B62 bridge) time-interval RANGE frame — the batch twin of a
    // sliding event-time window: peers by timestamp distance, not row
    // count. PARTITION BY user_id keeps the frame evaluation parallel
    // (the same no-unkeyed-window rule as q60).
    Q.same("q67_ts_range_frame",
      """SELECT event_id,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_hr,
        |  CAST(CAST(ROUND(SUM(value) OVER w, 2) AS DECIMAL(18,2)) AS DOUBLE) AS v_hr
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // Q68 (B34 family) top-1-per-group: Spark expresses it as the
    // rank-window idiom (the plan Catalyst decorrelates q64 into); DuckDB
    // ships DISTINCT ON sugar for the same semantics. Tie-break on
    // c_custkey makes the winner unique, so the two formulations agree
    // row-for-row.
    Q("q68_distinct_on",
      """SELECT c_nationkey, c_custkey,
        |  CAST(CAST(ROUND(c_acctbal, 2) AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin,
      """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey,
        |  CAST(CAST(ROUND(c_acctbal, 2) AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM customer
        |ORDER BY c_nationkey, c_acctbal DESC, c_custkey""".stripMargin),

    // Q69 (B17 dialect) JOIN USING — single shared key column in the
    // output (TPC-H column names never collide, so the derived tables
    // rename the keys; both dialects agree on USING's column-merge rule).
    Q.same("q69_join_using",
      """SELECT nk, COUNT(*) AS customers, MIN(n_name) AS nation
        |FROM (SELECT c_nationkey AS nk, c_custkey FROM customer)
        |JOIN (SELECT n_nationkey AS nk, n_name FROM nation) USING (nk)
        |GROUP BY nk ORDER BY nk""".stripMargin),

    // Q70 (B17 dialect) NATURAL JOIN — implicit equi-join on every
    // same-named column (nk, rk here), dedup'd in the output like USING.
    Q.same("q70_natural_join",
      """SELECT rk, r_name, COUNT(*) AS nations
        |FROM (SELECT n_regionkey AS rk, n_name FROM nation)
        |NATURAL JOIN (SELECT r_regionkey AS rk, r_name FROM region)
        |GROUP BY rk, r_name ORDER BY rk""".stripMargin),

    // Q71 (B16/ANSI) TRY_CAST — the null-on-failure cast both engines
    // share by name (Spark runs ANSI mode where plain CAST throws; the
    // pipeline-safe form is the one a dirty-data ingest actually uses).
    // '1-URGENT' -> NULL as a whole, 1 from its first char; a VARCHAR
    // status never parses as DATE.
    Q.same("q71_try_cast",
      """SELECT o_orderkey,
        |  TRY_CAST(o_orderpriority AS INTEGER) AS full_num,
        |  TRY_CAST(SUBSTRING(o_orderpriority, 1, 1) AS INTEGER) AS prio_num,
        |  TRY_CAST(o_orderstatus AS DATE) AS bad_date
        |FROM orders WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin),

    // Q72 (B54) regex functions — extract (group ref), replace (Spark
    // replaces ALL matches; DuckDB needs the explicit 'g' flag), and a
    // regex predicate (RLIKE / regexp_matches). Patterns stay in the
    // RE2-compatible subset both engines execute identically.
    Q("q72_regexp",
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |  regexp_replace(p_name, '[aeiou]', '*') AS devoweled
        |FROM part WHERE p_name RLIKE '(red|blue)'
        |ORDER BY p_partkey""".stripMargin,
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled
        |FROM part WHERE regexp_matches(p_name, '(red|blue)')
        |ORDER BY p_partkey""".stripMargin),

    // Q73 (B57) date arithmetic — day offset, calendar-month add (both
    // engines clamp Jan 31 + 1 mo -> Feb 28), month-end, day diff,
    // day-of-week (Spark: 1=Sunday; DuckDB dayofweek: 0=Sunday, hence +1).
    // o_orderdate is a TIMESTAMP in the parquet; both sides CAST to DATE
    // first so the arithmetic is calendar-day, not interval-on-instant.
    Q("q73_date_arith",
      """SELECT o_orderkey,
        |  date_add(CAST(o_orderdate AS DATE), 30) AS d30,
        |  add_months(CAST(o_orderdate AS DATE), 2) AS m2,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  datediff(DATE '1998-12-31', CAST(o_orderdate AS DATE)) AS to_end,
        |  CAST(extract(DAYOFWEEK FROM CAST(o_orderdate AS DATE)) AS INT) AS dow
        |FROM orders WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) + 30 AS d30,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS m2,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS to_end,
        |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow
        |FROM orders WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin),

    // Q74 (B60) array construction + positional ops — sequence/slice
    // (Spark slice(arr, start, LENGTH) == DuckDB list_slice(arr, start,
    // END) with end = start+len-1), membership, and 1-based position
    // (both engines return 0 on a miss). Scalar outputs only, per the
    // standing no-nested-outputs convention (array_join flattens).
    Q("q74_array_ops",
      """SELECT o_orderkey,
        |  array_join(slice(sequence(1, CAST(o_orderkey % 5 + 3 AS INT)), 2, 3),
        |             ',') AS seq_slice,
        |  CAST(array_contains(split(o_orderpriority, '-'), 'URGENT') AS INT)
        |    AS has_urgent,
        |  CAST(array_position(split(o_orderpriority, '-'), 'HIGH') AS INT)
        |    AS pos_high
        |FROM orders WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey,
        |  array_to_string(list_slice(generate_series(1,
        |      CAST(o_orderkey % 5 + 3 AS INT)), 2, 4), ',') AS seq_slice,
        |  CAST(list_contains(string_split(o_orderpriority, '-'), 'URGENT') AS INT)
        |    AS has_urgent,
        |  CAST(list_position(string_split(o_orderpriority, '-'), 'HIGH') AS INT)
        |    AS pos_high
        |FROM orders WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin),

    // Q75 (B54) string manipulation II — edit distance (same classic DP
    // definition in both engines), character translation, padding,
    // affix extraction, 1-based substring position. initcap is Spark-only
    // (no DuckDB twin), so it stays out of the declared row.
    Q.same("q75_string_fns",
      """SELECT p_partkey,
        |  levenshtein(p_name, p_brand) AS lev,
        |  translate(p_brand, '#1', '-I') AS tr,
        |  lpad(CAST(p_size AS STRING), 4, '0') AS pad,
        |  left(p_name, 8) AS l8, right(p_type, 6) AS r6,
        |  CAST(instr(p_name, 'o') AS BIGINT) AS first_o
        |FROM part WHERE p_partkey <= 400
        |ORDER BY p_partkey""".stripMargin),

    // Q76 (B26) bitwise aggregates — AND/OR/XOR folds (both engines
    // define the identical bit-fold; XOR doubles as a parity check over
    // the key set).
    Q.same("q76_bit_agg",
      """SELECT o_orderpriority,
        |  CAST(bit_and(o_orderkey) AS BIGINT) AS band,
        |  CAST(bit_or(o_orderkey) AS BIGINT) AS bor,
        |  CAST(bit_xor(o_orderkey) AS BIGINT) AS bxor
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // Q77 (B26) statistical aggregates — stddev / correlation via exact
    // DECIMAL power sums, NOT the builtin stddev_samp/corr: the builtins
    // accumulate doubles in partition order, which is deterministic per
    // engine but not ACROSS engines (and not across repartitioning). The
    // two-pass closed form sums exactly (DECIMAL), then runs the same
    // scalar IEEE ops on both sides — bit-identical by construction, and
    // the distributed plan is still one map-side-combined aggregation.
    // r15: the Spark side sums BIGINT cents per row (long multiply + the
    // compact-decimal sum fast path) instead of casting every row to
    // DECIMAL(18,2) and paying BigDecimal multiply/add per value —
    // measured ~2× on this row. The group-level decimal divisions hand
    // the tail formulas the EXACT same doubles as the old per-row-decimal
    // text (sums are the same integers; the ÷100/÷10000 divisions are
    // exact at scale 6, then one correctly-rounded decimal→double
    // conversion — identical to before). The DuckDB twin KEEPS the old
    // per-row-decimal formulation, so the driver's hash compare itself
    // pins new-vs-old value identity on every run. Products sum as
    // DECIMAL(38,0) (not BIGINT) so a 100 TB group cannot overflow.
    Q("q77_stat_agg",
      """WITH c AS (SELECT l_returnflag,
        |        CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS cx,
        |        CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cy
        |      FROM lineitem),
        |s AS (SELECT l_returnflag, COUNT(*) AS n,
        |        CAST(CAST(SUM(cx) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sx,
        |        CAST(CAST(SUM(cy) AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sy,
        |        CAST(SUM(CAST(cx * cx AS DECIMAL(38,0))) / 10000 AS DOUBLE) AS sxx,
        |        CAST(SUM(CAST(cx * cy AS DECIMAL(38,0))) / 10000 AS DOUBLE) AS sxy,
        |        CAST(SUM(CAST(cy * cy AS DECIMAL(38,0))) / 10000 AS DOUBLE) AS syy
        |      FROM c GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  CAST(n AS BIGINT) AS n,
        |  CAST(CAST(FLOOR(SQRT(
        |    (CAST(n AS DOUBLE) * sxx - sx * sx)
        |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        |    * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS sd_qty,
        |  CAST(CAST(FLOOR(
        |    (CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (SQRT(CAST(n AS DOUBLE) * sxx - sx * sx)
        |     * SQRT(CAST(n AS DOUBLE) * syy - sy * sy))
        |    * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS corr_qp
        |FROM s ORDER BY l_returnflag""".stripMargin,
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(CAST(FLOOR(SQRT(
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(dx * dx) AS DOUBLE)
        |      - CAST(SUM(dx) AS DOUBLE) * CAST(SUM(dx) AS DOUBLE))
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) - 1 AS DOUBLE)))
        |    * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS sd_qty,
        |  CAST(CAST(FLOOR(
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(dx * dy) AS DOUBLE)
        |      - CAST(SUM(dx) AS DOUBLE) * CAST(SUM(dy) AS DOUBLE))
        |    / (SQRT(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(dx * dx) AS DOUBLE)
        |            - CAST(SUM(dx) AS DOUBLE) * CAST(SUM(dx) AS DOUBLE))
        |     * SQRT(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(dy * dy) AS DOUBLE)
        |            - CAST(SUM(dy) AS DOUBLE) * CAST(SUM(dy) AS DOUBLE)))
        |    * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS corr_qp
        |FROM (SELECT l_returnflag,
        |        CAST(l_quantity AS DECIMAL(18,2)) AS dx,
        |        CAST(l_extendedprice AS DECIMAL(18,2)) AS dy
        |      FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Q78 (B36/B55) nth_value window + GREATEST/LEAST — the positional
    // window accessor beyond first/last (q27), over the full-frame window
    // both engines define identically; the variadic comparisons stay on
    // exact integer expressions so no float tie can flip the winner.
    Q.same("q78_nth_value",
      """SELECT l_orderkey, l_linenumber,
        |  nth_value(l_partkey, 2) OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_part,
        |  CAST(greatest(l_partkey % 100, l_suppkey % 100, l_linenumber * 10)
        |       AS BIGINT) AS g,
        |  CAST(least(l_partkey % 100, l_suppkey % 100, l_linenumber * 10)
        |       AS BIGINT) AS l
        |FROM lineitem WHERE l_orderkey <= 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Q79 (B57) calendar parts II — ISO week (both engines ISO-8601:
    // week 1 holds Jan 4; year-boundary dates fall in the neighboring
    // year's week), day-of-year, quarter, and hex rendering (identical
    // unpadded uppercase in both dialects).
    Q.same("q79_calendar",
      """SELECT o_orderkey,
        |  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS wk,
        |  CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INT) AS doy,
        |  CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS q,
        |  hex(o_orderkey) AS hx
        |FROM orders WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin),

    // Q80 (B13) row-value constructor in an IN predicate — multi-column
    // membership both engines parse identically (QUALIFY and quantified
    // ANY/ALL subqueries were probed and are NOT in Spark 4.1's parser,
    // so they stay out of the declared surface).
    Q.same("q80_row_in",
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        |WHERE (o_orderstatus, o_orderpriority)
        |      IN (('F', '5-LOW'), ('O', '1-URGENT'))
        |ORDER BY o_orderkey""".stripMargin),

    // Q81 (B26,B33) boolean / conditional aggregates — bool_and/bool_or
    // folds, count_if, and a popcount fold (SUM over the scalar
    // bit_count). All four are identical definitions in both engines;
    // booleans are CAST to INT in the projection per the no-bool-output
    // rendering convention. One map-side-combined hash aggregation.
    Q.same("q81_bool_agg",
      """SELECT o_orderpriority,
        |  CAST(bool_and(o_totalprice > 1000.0) AS INT) AS all_over_1k,
        |  CAST(bool_or(o_orderstatus = 'F') AS INT) AS any_f,
        |  CAST(count_if(o_totalprice > 100000.0) AS BIGINT) AS n_big,
        |  CAST(SUM(bit_count(o_orderkey)) AS BIGINT) AS popbits
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // Q82 (B54,B27) width_bucket binning → histogram rollup. DuckDB has no
    // width_bucket, so the twin reconstructs the definition arithmetically
    // (v < lo → 0, v >= hi → n+1, else floor((v-lo)/width)+1). The bounds
    // are chosen so width = (hi-lo)/n = 1000.0 exactly; every c_acctbal is
    // a two-decimal double, so (v-lo)/1000.0 and n*(v-lo)/(hi-lo) round to
    // the same bucket — the two evaluation orders can only diverge within
    // an ulp of an integer boundary, which the cent-grid values never hit.
    Q("q82_width_bucket",
      """SELECT CAST(width_bucket(c_acctbal, -1000.0, 10000.0, 11) AS INT) AS bkt,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(c_custkey) AS BIGINT) AS min_cust
        |FROM customer GROUP BY width_bucket(c_acctbal, -1000.0, 10000.0, 11)
        |ORDER BY bkt""".stripMargin,
      """SELECT CAST(CASE WHEN c_acctbal < -1000.0 THEN 0
        |            WHEN c_acctbal >= 10000.0 THEN 12
        |            ELSE CAST(FLOOR((c_acctbal + 1000.0) / 1000.0) AS INT) + 1
        |       END AS INT) AS bkt,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(c_custkey) AS BIGINT) AS min_cust
        |FROM customer GROUP BY 1
        |ORDER BY bkt""".stripMargin),

    // Q83 (B70) positional explode / UNNEST WITH ORDINALITY — the generator
    // variant that carries the element index (token position), the input
    // shape for positional n-gram work (x85/x93 build on windows of it).
    // Spark's posexplode is 0-based; DuckDB's generate_subscripts is
    // 1-based, mapped with a −1. Map-side generator, no shuffle but the
    // output sort.
    Q("q83_posexplode",
      """SELECT doc_id, CAST(pos AS INT) AS pos, tok
        |FROM (SELECT doc_id, array_remove(split(LOWER(text), ' '), '') AS toks
        |      FROM documents WHERE doc_id < 30)
        |LATERAL VIEW posexplode(toks) AS pos, tok
        |ORDER BY doc_id, pos""".stripMargin,
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS toks
        |           FROM documents WHERE doc_id < 30)
        |SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos,
        |       unnest(toks) AS tok
        |FROM d ORDER BY doc_id, pos""".stripMargin)
  )

  /** Q55 (B12) parameterized-query template: the Spark side binds this `?`
    * template through the envelope's [[graft.engine.SqlText.bind]]
    * (positional, quote-aware literal inlining) before Catalyst sees it —
    * running the B12 binding path end-to-end through the driver's oracle
    * gate rather than only through SqlTextSpec. [[q55ParamBound]] is the
    * equivalent pre-bound text both the oracle and a determinism spec use.
    * The string param carries a quote to exercise the escaping path.
    *
    * Shared-oracle constraint: the bound text doubles as the DuckDB oracle
    * verbatim, but `SqlText.render` doubles backslashes for Spark's parser
    * only — params here must stay backslash-free (quote doubling is the
    * shared subset both parsers agree on); a backslash param would need a
    * dialect-specific oracle rendering instead.
    */
  val q55ParamTemplate: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_mktsegment = ? AND c_acctbal > ? AND c_name <> ?
      |ORDER BY c_custkey""".stripMargin

  val q55ParamBound: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0 AND c_name <> 'o''brien'
      |ORDER BY c_custkey""".stripMargin
}
