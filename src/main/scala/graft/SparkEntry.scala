package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.ExactMath
import graft.operators.{Analysis, DataOps, GraphOps, KgOps, Relational}

/** One registered query: its Spark implementation over an sf table
  * directory, and the equivalent ANSI SQL that DuckDB runs over the same
  * parquet tables as its oracle (column names aligned exactly — the
  * driver hashes values after sorting columns by name).
  */
final case class QuerySpec(name: String,
                           run: (SparkSession, String) => DataFrame,
                           oracle: String)

/** Driver contract (SURVEY.md §7): the query registry [[specs]], one
  * [[QuerySpec]] per implemented operator from SURVEY.md §2, and the two
  * name-keyed views derived from it.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** The query registry. Shared oracle CTEs below are `def`s, so this
    * table may refer to them before their declaration.
    */
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_agg", Relational.q1PricingSummary,
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("q2_join_agg", Relational.q2RevenueByNation,
      """SELECT n_name,
        | CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    QuerySpec("q3_filter_topk", Relational.q3TopOrders,
      """SELECT o_orderkey, o_custkey,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |ORDER BY total_price DESC, o_orderkey LIMIT 30""".stripMargin),
    QuerySpec("q4_semijoin", Relational.q4SemiJoin,
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    QuerySpec("q5_antijoin", Relational.q5AntiJoin,
      """SELECT n_name, COUNT(*) AS n_orphans
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1998-01-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    QuerySpec("q6_window_top1", Relational.q6WindowTopOrder,
      """SELECT o_custkey, top_orderkey, top_price FROM (
        | SELECT o_custkey, o_orderkey AS top_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS top_price,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
    QuerySpec("q7_explode_onetomany", Relational.q7ExplodeTokens,
      """SELECT type_token, COUNT(*) AS n_parts FROM (
        | SELECT unnest(string_split(p_type, ' ')) AS type_token FROM part) t
        |GROUP BY type_token ORDER BY type_token""".stripMargin),
    QuerySpec("q8_distinct", Relational.q8Distinct,
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),
    QuerySpec("q9_range_join", Relational.q9RangeJoin,
      """WITH bands(band, lo, hi) AS (
        | VALUES ('b0_low', 0.0, 15.0), ('b1_mid', 15.0, 35.0),
        |        ('b2_high', 35.0, 70.0), ('b3_tail', 70.0, 150.0),
        |        ('b4_extreme', 150.0, 1e18))
        |SELECT band, COUNT(*) AS n_events
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin),
    // q40: bucketed interval join — the oracle is the PLAIN range join
    // (bucketing + replication + exact re-check is transparent)
    QuerySpec("q40_interval_buckets", Relational.q40IntervalBuckets,
      """WITH b AS (SELECT n_name AS band,
        |        n_nationkey * CAST(0.75 AS DOUBLE) AS lo,
        |        n_nationkey * CAST(0.75 AS DOUBLE) + CAST(1.5 AS DOUBLE) AS hi
        |       FROM nation)
        |SELECT band, lo, hi, COUNT(*) AS n_events
        |FROM events JOIN b ON value >= lo AND value < hi
        |GROUP BY 1, 2, 3 ORDER BY band""".stripMargin),
    QuerySpec("q10_string_preds", Relational.q10StringPredicates,
      """SELECT
        | COUNT(CASE WHEN p_name LIKE 'a%' THEN 1 END) AS n_starts_a,
        | COUNT(CASE WHEN p_name LIKE '%e' THEN 1 END) AS n_ends_e,
        | COUNT(CASE WHEN p_name LIKE '%red%' THEN 1 END) AS n_contains_red,
        | COUNT(CASE WHEN LENGTH(p_name) > 20 THEN 1 END) AS n_long
        |FROM part""".stripMargin),
    QuerySpec("q11_ignorecase_join", Relational.q11IgnoreCaseJoin,
      """SELECT n.n_name AS n_name, d.dim_key AS dim_key
        |FROM nation n
        |JOIN (SELECT UPPER(n_name) AS dim_name, n_nationkey AS dim_key FROM nation) d
        | ON LOWER(n.n_name) = LOWER(d.dim_name)
        |ORDER BY n_name""".stripMargin),
    QuerySpec("q12_twohop_closure", Relational.q12TwoHop,
      """SELECT o_custkey, COUNT(DISTINCT l_partkey) AS n_parts
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_custkey ORDER BY n_parts DESC, o_custkey LIMIT 30""".stripMargin),
    QuerySpec("q16_khop", Analysis.q16KHop,
      """SELECT 1 AS hop, COUNT(DISTINCT c_custkey) AS n_nodes
        |FROM customer WHERE c_nationkey = 1
        |UNION ALL
        |SELECT 2, COUNT(DISTINCT o_orderkey)
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey = 1
        |ORDER BY hop""".stripMargin),
    QuerySpec("q17_wildcard_policy", Analysis.q17Wildcard,
      s"""${Analysis.policyCte}
         |SELECT policy_id, COUNT(*) AS n_allowed FROM (
         | SELECT policy_id, p_partkey,
         |  MAX(CASE WHEN kind = 'allow' THEN 1 ELSE 0 END) AS a,
         |  MAX(CASE WHEN kind = 'deny' THEN 1 ELSE 0 END) AS d
         | FROM part JOIN pats ON p_name LIKE pattern
         | GROUP BY policy_id, p_partkey) t
         |WHERE a = 1 AND d = 0
         |GROUP BY policy_id ORDER BY policy_id""".stripMargin),
    // q33 loads the SAME policy set through the mapping-file round-trip
    // (serialize → loadPolicyMapping → evaluate), so its expected answer
    // is exactly q17's.
    QuerySpec("q33_policy_file", Analysis.q33PolicyFile,
      s"""${Analysis.policyCte}
         |SELECT policy_id, COUNT(*) AS n_allowed FROM (
         | SELECT policy_id, p_partkey,
         |  MAX(CASE WHEN kind = 'allow' THEN 1 ELSE 0 END) AS a,
         |  MAX(CASE WHEN kind = 'deny' THEN 1 ELSE 0 END) AS d
         | FROM part JOIN pats ON p_name LIKE pattern
         | GROUP BY policy_id, p_partkey) t
         |WHERE a = 1 AND d = 0
         |GROUP BY policy_id ORDER BY policy_id""".stripMargin),
    QuerySpec("q18_collect_agg", Analysis.q18Collect,
      """SELECT o_custkey,
        | string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
        | COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 100""".stripMargin),
    QuerySpec("q19_json_props", Analysis.q19Json,
      """SELECT k % 10 AS k_mod, COUNT(*) AS n_events, CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM (SELECT CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
        |      FROM events) t
        |WHERE k IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q20_exposure_propagation", Analysis.q20Exposure,
      """WITH tagged AS (
        | SELECT s_suppkey, tag FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | CROSS JOIN (VALUES ('europe'), ('lowbal')) v(tag)
        | WHERE (tag = 'europe' AND r_name = 'EUROPE')
        |    OR (tag = 'lowbal' AND s_acctbal < 3000.0)),
        |pt AS (
        | SELECT DISTINCT l_partkey, tag
        | FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
        | JOIN tagged ON l_suppkey = s_suppkey),
        |pe AS (
        | SELECT l_partkey, string_agg(DISTINCT tag, ',' ORDER BY tag) AS exposure
        | FROM pt GROUP BY l_partkey)
        |SELECT exposure, COUNT(*) AS n_parts FROM pe
        |GROUP BY exposure ORDER BY exposure""".stripMargin),
    QuerySpec("q21_lineage", Analysis.q21Lineage,
      """WITH en AS (SELECT doc_id AS i FROM documents WHERE lang = 'en'),
        |tot AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT stage, total_rows FROM (
        | SELECT 'canonical' AS stage, CAST(1000 AS BIGINT) AS total_rows
        | UNION ALL SELECT 'extract', n FROM tot
        | UNION ALL SELECT 'links', (SELECT CAST(COALESCE(SUM(
        |    2 + CASE WHEN i % 100 < 30 THEN 1 ELSE 0 END
        |      + CASE WHEN i % 10 = 7 THEN 2 ELSE 0 END
        |      + CASE WHEN i % 10 = 3 THEN 1 ELSE 0 END
        |      + CASE WHEN i % 10 = 9 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM en)
        | UNION ALL SELECT 'pages', n FROM tot
        | UNION ALL SELECT 'triples', (SELECT COUNT(*) FROM en)) t
        |ORDER BY stage""".stripMargin),
    QuerySpec("q22_suffix_subzones", Analysis.q22Subzones,
      """WITH d AS (SELECT DISTINCT doc_id % 50 AS m, doc_id % 3 AS j
        |           FROM documents),
        |zones AS (
        | SELECT 'example' AS zone
        | UNION SELECT 'host' || CAST(m AS VARCHAR) || '.example' FROM d
        | UNION SELECT 'd' || CAST(j AS VARCHAR) || '.host' || CAST(m AS VARCHAR) || '.example' FROM d)
        |SELECT p.zone AS zone, COUNT(*) AS n_subzones
        |FROM zones c JOIN zones p ON c.zone LIKE '%.' || p.zone
        |GROUP BY p.zone ORDER BY zone""".stripMargin),
    // Oracles below recompute the EXPECTED graph state after the
    // upsert/cleanup/drift scenario that the Spark side actually executes
    // through GraphMerge/Cleanup/SnapshotTable.
    QuerySpec("q13_graph_upsert", GraphOps.q13GraphUpsert,
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        | CAST(CASE WHEN c_custkey % 2 = 0 THEN 100 ELSE 200 END AS BIGINT) AS firstseen,
        | CAST(200 AS BIGINT) AS lastupdated,
        | c_mktsegment AS segment
        |FROM customer WHERE c_nationkey = 1 ORDER BY id""".stripMargin),
    QuerySpec("q14_graph_cleanup", GraphOps.q14GraphCleanup,
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        | CAST(100 AS BIGINT) AS firstseen, CAST(200 AS BIGINT) AS lastupdated,
        | CAST(1 AS BIGINT) AS n_res_edges
        |FROM customer WHERE c_nationkey = 1 AND c_custkey % 2 = 0
        |ORDER BY id""".stripMargin),
    QuerySpec("q15_drift", GraphOps.q15Drift,
      """WITH c AS (SELECT c_custkey AS k, CAST(c_custkey AS VARCHAR) AS id
        |           FROM customer WHERE c_nationkey = 1)
        |SELECT id, 'added' AS direction FROM c WHERE k % 3 = 0 AND k % 2 <> 0
        |UNION ALL
        |SELECT id, 'removed' AS direction FROM c WHERE k % 2 = 0 AND k % 3 <> 0
        |ORDER BY direction, id""".stripMargin),
    // KG-pipeline oracles: recompute planted facts arithmetically from
    // documents.parquet; the Spark side must reproduce them through real
    // HTML extraction, Aho-Corasick mention detection, LSH blocking, CC
    // canonicalization and graph merge.
    QuerySpec("qkg1_extract_invariant", KgOps.qkg1Invariant,
      "SELECT COUNT(*) AS n_pages, COUNT(*) AS n_exact FROM documents"),
    QuerySpec("qkg2_mentions", KgOps.qkg2Mentions,
      s"""${KgOps.mentionCte}
         |SELECT 'https://host' || CAST(i % 50 AS VARCHAR) || '.example/p/' || CAST(i AS VARCHAR) AS url,
         | 'e' || lpad(CAST(ck AS VARCHAR), 4, '0') AS entity_id,
         | COUNT(*) AS n_mentions
         |FROM c GROUP BY 1, 2 ORDER BY url, entity_id""".stripMargin),
    QuerySpec("qkg3_triples", KgOps.qkg3Triples,
      s"""${KgOps.tripleCte}
         |SELECT 'https://host' || CAST(i % 50 AS VARCHAR) || '.example/p/' || CAST(i AS VARCHAR) AS url,
         | 'e' || lpad(CAST(cs AS VARCHAR), 4, '0') AS subj,
         | ${KgOps.predCase} AS pred,
         | 'e' || lpad(CAST(co AS VARCHAR), 4, '0') AS obj
         |FROM cz ORDER BY url, subj, pred, obj""".stripMargin),
    QuerySpec("qkg4_canonical", KgOps.qkg4Canonical,
      """SELECT 'e' || lpad(CAST(k AS VARCHAR), 4, '0') AS entity_id,
        | 'e' || lpad(CAST(CASE WHEN k >= 800 THEN k - 800 ELSE k END AS VARCHAR), 4, '0') AS canonical_id
        |FROM range(0, 1000) t(k) ORDER BY entity_id""".stripMargin),
    QuerySpec("qkg5_mention_degree", KgOps.qkg5Degree,
      s"""${KgOps.mentionCte}
         |SELECT 'e' || lpad(CAST(ck AS VARCHAR), 4, '0') AS entity_id,
         | COUNT(*) AS n_mentions
         |FROM c GROUP BY 1 ORDER BY n_mentions DESC, entity_id LIMIT 30""".stripMargin),
    QuerySpec("qkg6_graph_edges", KgOps.qkg6GraphEdges,
      s"""${KgOps.tripleCte}
         |SELECT 'e' || lpad(CAST(cs AS VARCHAR), 4, '0') AS src_id,
         | ${KgOps.predCase} AS rel_label,
         | 'e' || lpad(CAST(co AS VARCHAR), 4, '0') AS dst_id,
         | COUNT(DISTINCT i) AS n_sources,
         | CAST(100 AS BIGINT) AS firstseen, CAST(100 AS BIGINT) AS lastupdated
         |FROM cz GROUP BY 1, 2, 3 ORDER BY src_id, rel_label, dst_id""".stripMargin),
    QuerySpec("q29_streaming_sync", KgOps.q29StreamingSync,
      s"""${KgOps.tripleCte}
         |SELECT DISTINCT 'e' || lpad(CAST(cs AS VARCHAR), 4, '0') AS src_id,
         | ${KgOps.predCase} AS rel_label,
         | 'e' || lpad(CAST(co AS VARCHAR), 4, '0') AS dst_id
         |FROM cz ORDER BY src_id, rel_label, dst_id""".stripMargin),
    // q32 oracle: the rows the streaming query must have KEPT (late row
    // i=45 dropped; windows past the final watermark never emitted) with
    // counts recomputed relationally.
    QuerySpec("q32_stream_windows", KgOps.q32StreamWindows,
      """WITH rows_ AS (
        | SELECT i, CASE WHEN i % 2 = 0 THEN 'en' ELSE 'de' END AS lang
        | FROM range(0, 300) t(i)
        | UNION ALL SELECT 900, 'en' UNION ALL SELECT 1000, 'en'
        | UNION ALL SELECT 1100, 'en')
        |SELECT CAST((i // 60) * 60 AS BIGINT) AS window_min, lang,
        | COUNT(*) AS n_pages
        |FROM rows_ GROUP BY 1, 2 ORDER BY window_min, lang""".stripMargin),
    // q35 oracle: one session per (user, burst) recomputed closed-form —
    // start = first event offset, end = last event offset + the 30 min gap
    QuerySpec("q35_stream_sessions", KgOps.q35StreamSessions,
      """WITH e AS (
        | SELECT doc_id % 5 AS u, doc_id // 100 AS b,
        |        doc_id * 30 + (doc_id // 100) * 3600 AS off
        | FROM documents)
        |SELECT CAST(u AS BIGINT) AS user_id,
        | CAST(MIN(off) AS BIGINT) AS start_off,
        | CAST(MAX(off) + 1800 AS BIGINT) AS end_off,
        | COUNT(*) AS n_events
        |FROM e GROUP BY u, b ORDER BY user_id, start_off""".stripMargin),
    // q37 oracle: the planted survivor set — first occurrences, the
    // in-window dup dropped, the post-eviction dup re-emitted
    QuerySpec("q37_stream_dedup_ttl", KgOps.q37StreamDedupTtl,
      """SELECT CAST(k AS BIGINT) AS k, CAST(off AS BIGINT) AS off
        |FROM (VALUES (0, 0), (1, 60), (2, 120), (999, 1800), (0, 1500))
        |  v(k, off)
        |ORDER BY off, k""".stripMargin),
    // q38 oracle: the stream-stream interval join's complete result IS
    // the batch join (inner joins emit every pair once both sides
    // arrive; the 45-day watermark out-spans the table so nothing drops)
    QuerySpec("q38_stream_join", KgOps.q38StreamJoin,
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        | v.user_id,
        | epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 DAY
        |ORDER BY view_id, purchase_id""".stripMargin),
    // q41: the left-outer variant — unmatched views flush once the
    // sentinel-advanced global watermark closes their windows, so the
    // complete output is the batch LEFT join
    QuerySpec("q41_stream_left_join", KgOps.q41StreamLeftJoin,
      """SELECT v.event_id AS view_id, v.user_id,
        | p.event_id AS purchase_id,
        | epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM events v LEFT JOIN events p
        |  ON v.user_id = p.user_id
        | AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 DAY
        |WHERE v.event_type = 'view'
        |ORDER BY view_id, purchase_id""".stripMargin),
    // q36 oracle: inner enrichment join + daily counts — every window is
    // emitted (the sentinel pushed the final watermark past them all)
    QuerySpec("q36_stream_enrich", KgOps.q36StreamEnrich,
      """SELECT CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS day,
        | c_mktsegment AS segment, COUNT(*) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY day, segment""".stripMargin),
    QuerySpec("q23_array_any", Analysis.q23ArrayAny,
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM (
        | SELECT o_custkey,
        |  MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS has_u,
        |  MAX(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS has_l
        | FROM orders GROUP BY o_custkey) t
        |JOIN customer ON o_custkey = c_custkey
        |WHERE has_u = 1 AND has_l = 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    QuerySpec("q25_clear_props", GraphOps.q25ClearProps,
      """SELECT CAST(c_custkey AS VARCHAR) AS id, c_mktsegment AS segment,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE 'true' END AS exposed
        |FROM customer WHERE c_nationkey = 1 ORDER BY id""".stripMargin),
    QuerySpec("q26_analysis_job", GraphOps.q26AnalysisJob,
      """SELECT c_mktsegment AS segment, COUNT(*) AS n_flagged,
        |  CAST(0 AS BIGINT) AS exposed_left
        |FROM customer WHERE c_nationkey = 1 AND c_acctbal > 5000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // q42: three SHIPPED analysis jobs (data/jobs/analysis) over a
    // deterministic TPC-H graph slice — every report row recomputed
    // arithmetically; absent groups (e.g. zero dangling dsts) must be
    // absent on both sides (HAVING mirrors Spark's empty GROUP BY)
    QuerySpec("q42_shipped_jobs", GraphOps.q42ShippedJobs,
      """WITH cust AS (SELECT * FROM customer WHERE c_nationkey = 1),
        |nodes AS (
        |  SELECT 'Customer' AS label, CAST(c_custkey AS VARCHAR) AS id,
        |         c_acctbal > 7000 AS exposed,
        |         CASE WHEN c_custkey % 2 = 0 THEN 200 ELSE 100 END AS lu
        |  FROM cust
        |  UNION ALL
        |  SELECT 'Supplier', CAST(s_suppkey AS VARCHAR), s_acctbal > 5000,
        |         200
        |  FROM supplier WHERE s_nationkey IN (1, 2)),
        |edges AS (
        |  SELECT DISTINCT CAST(l_suppkey AS VARCHAR) AS src_id,
        |                  CAST(o_custkey AS VARCHAR) AS dst_id
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cust ON o_custkey = c_custkey),
        |rpt AS (
        |  SELECT 'exposure_propagation' AS job, 'exposed_reachable' AS metric,
        |         'Customer' AS k, COUNT(*) AS n
        |  FROM (SELECT e.dst_id FROM edges e
        |        JOIN nodes x ON x.label = 'Supplier' AND x.exposed
        |                    AND e.src_id = x.id
        |        GROUP BY e.dst_id) r
        |  HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT 'exposure_propagation', 'exposed_sources', label, COUNT(*)
        |  FROM nodes WHERE exposed GROUP BY label
        |  UNION ALL
        |  SELECT 'stale_asset_report', 'stale_nodes', label,
        |         COUNT(CASE WHEN lu < 200 THEN 1 END)
        |  FROM nodes GROUP BY label
        |  UNION ALL
        |  SELECT 'stale_asset_report', 'total_nodes', label, COUNT(*)
        |  FROM nodes GROUP BY label
        |  UNION ALL
        |  SELECT 'dangling_edge_audit', 'dangling_src', 'SUPPLIES', COUNT(*)
        |  FROM edges e WHERE NOT EXISTS (SELECT 1 FROM nodes n
        |    WHERE n.label = 'Supplier' AND n.id = e.src_id)
        |  HAVING COUNT(*) > 0
        |  UNION ALL
        |  SELECT 'dangling_edge_audit', 'dangling_dst', 'SUPPLIES', COUNT(*)
        |  FROM edges e WHERE NOT EXISTS (SELECT 1 FROM nodes n
        |    WHERE n.label = 'Customer' AND n.id = e.dst_id)
        |  HAVING COUNT(*) > 0)
        |SELECT job, metric, k, CAST(n AS BIGINT) AS n FROM rpt
        |ORDER BY job, metric, k""".stripMargin),
    QuerySpec("q27_drift_states", GraphOps.q27DriftStates,
      """WITH cp AS (
        |  SELECT CAST(c_custkey AS VARCHAR) AS id,
        |         string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS prios
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  WHERE c_nationkey = 1 GROUP BY 1),
        |a AS (SELECT id, prios FROM cp WHERE CAST(id AS BIGINT) % 2 = 0),
        |b AS (SELECT id, prios FROM cp WHERE CAST(id AS BIGINT) % 3 = 0)
        |SELECT direction, id, prios FROM (
        |  SELECT 'added' AS direction, id, prios FROM b WHERE id NOT IN (SELECT id FROM a)
        |  UNION ALL
        |  SELECT 'removed', id, prios FROM a WHERE id NOT IN (SELECT id FROM b)) t
        |ORDER BY direction, id""".stripMargin),
    QuerySpec("q28_selected_rels", GraphOps.q28SelectedRels,
      """WITH o AS (SELECT o_orderkey FROM orders
        |  JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = 1)
        |SELECT run, rel_label, n_edges FROM (
        |  SELECT 'all' AS run, 'PLACED_BY' AS rel_label, (SELECT COUNT(*) FROM o) AS n_edges
        |  UNION ALL SELECT 'all', 'RESOURCE', (SELECT COUNT(*) FROM o)
        |  UNION ALL SELECT 'subset', 'PLACED_BY', (SELECT COUNT(*) FROM o)) t
        |ORDER BY run, rel_label""".stripMargin),
    // q31 runs the q14 scenario through the endpoint-index DETACH path;
    // the expected state is identical by contract.
    QuerySpec("q31_indexed_cleanup", GraphOps.q31IndexedCleanup,
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
        | CAST(100 AS BIGINT) AS firstseen, CAST(200 AS BIGINT) AS lastupdated,
        | CAST(1 AS BIGINT) AS n_res_edges
        |FROM customer WHERE c_nationkey = 1 AND c_custkey % 2 = 0
        |ORDER BY id""".stripMargin),
    // q30 expected state: round 1 synced both tenants at tag 100 and ran
    // the gated post job (post_run_tag=100 on both Nation containers);
    // round 2 refreshed tenant 1's even customers at tag 200 and cleaned
    // its stale odds, while tenant 2's simulated fetch failure left its
    // customers untouched and SKIPPED the post job (marker stays 100).
    QuerySpec("q30_multi_tenant", GraphOps.q30MultiTenant,
      """SELECT * FROM (
        | SELECT 'Nation' AS label, CAST(n_nationkey AS VARCHAR) AS id,
        |  '-' AS tenant, CAST(100 AS BIGINT) AS firstseen,
        |  CAST(100 AS BIGINT) AS lastupdated, '100' AS post_tag
        | FROM nation WHERE n_nationkey IN (1, 2)
        | UNION ALL
        | SELECT 'Customer', CAST(c_custkey AS VARCHAR),
        |  CAST(c_nationkey AS VARCHAR), CAST(100 AS BIGINT),
        |  CAST(CASE WHEN c_nationkey = 1 THEN 200 ELSE 100 END AS BIGINT),
        |  '-'
        | FROM customer
        | WHERE c_nationkey = 2 OR (c_nationkey = 1 AND c_custkey % 2 = 0)) t
        |ORDER BY label, id""".stripMargin),
    QuerySpec("q24_incremental_sync", GraphOps.q24IncrementalSync,
      """WITH c AS (SELECT COUNT(*) AS n FROM documents),
        |ids AS (SELECT doc_id AS i FROM documents)
        |SELECT 'https://host' || CAST(i % 50 AS VARCHAR) || '.example/p/' || CAST(i AS VARCHAR) AS id,
        | CAST(CASE WHEN i < (SELECT n*6//10 FROM c) THEN 100 ELSE 200 END AS BIGINT) AS firstseen,
        | CAST(CASE WHEN i >= (SELECT n*4//10 FROM c) THEN 200 ELSE 100 END AS BIGINT) AS lastupdated
        |FROM ids
        |WHERE i < (SELECT n*6//10 FROM c) OR i >= (SELECT n*4//10 FROM c)
        |ORDER BY id""".stripMargin),
    // q34: time travel — v1 = window A's state (fs=lu=100, B-only rows
    // NULL), v2 = the post-B state with firstseen preserved across the
    // upsert; both recomputed from doc_id arithmetic
    QuerySpec("q34_time_travel", GraphOps.q34TimeTravel,
      """WITH c AS (SELECT COUNT(*) AS n FROM documents),
        |ids AS (SELECT doc_id AS i FROM documents),
        |w AS (SELECT i,
        |        i < (SELECT n*6//10 FROM c) AS in_a,
        |        i >= (SELECT n*4//10 FROM c) AS in_b FROM ids)
        |SELECT 'https://host' || CAST(i % 50 AS VARCHAR) || '.example/p/' || CAST(i AS VARCHAR) AS id,
        | CAST(CASE WHEN in_a THEN 100 END AS BIGINT) AS fs_v1,
        | CAST(CASE WHEN in_a THEN 100 END AS BIGINT) AS lu_v1,
        | CAST(CASE WHEN in_a THEN 100 ELSE 200 END AS BIGINT) AS fs_v2,
        | CAST(CASE WHEN in_b THEN 200 ELSE 100 END AS BIGINT) AS lu_v2
        |FROM w WHERE in_a OR in_b ORDER BY id""".stripMargin),
    // q39: snapshot changelog — both version states recomputed closed-
    // form; unchanged rows (k ≡ 6 mod 12) must be ABSENT
    QuerySpec("q39_changelog", GraphOps.q39Changelog,
      """WITH c AS (SELECT CAST(c_custkey AS VARCHAR) AS id, c_custkey AS k,
        |             c_mktsegment AS seg
        |           FROM customer WHERE c_nationkey = 1),
        |v1 AS (SELECT id, seg FROM c WHERE k % 2 = 0),
        |v2 AS (SELECT id, CASE WHEN k % 12 = 0 THEN 'CHANGED-' || seg
        |              ELSE seg END AS seg
        |       FROM c WHERE k % 3 = 0),
        |j AS (SELECT COALESCE(v1.id, v2.id) AS id,
        |        v1.seg AS seg_before, v2.seg AS seg_after,
        |        CASE WHEN v1.id IS NULL THEN 'insert'
        |             WHEN v2.id IS NULL THEN 'delete'
        |             WHEN v1.seg <> v2.seg THEN 'update' END AS op
        |      FROM v1 FULL OUTER JOIN v2 ON v1.id = v2.id)
        |SELECT id, op, seg_before, seg_after FROM j
        |WHERE op IS NOT NULL ORDER BY id""".stripMargin),
    // Pages over the co-mention cap (MaxComentionEntitiesPerPage = 256
    // distinct entities) are excluded — a no-op at every test scale
    // (≤ 6 entities/page) but part of the operator's contract, so the
    // oracle states it too.
    QuerySpec("qkg7_comention", KgOps.qkg7Comention,
      s"""${KgOps.mentionCte},
         |pe0 AS (SELECT DISTINCT i, ck FROM c),
         |ok AS (SELECT i FROM pe0 GROUP BY i
         |       HAVING COUNT(*) <= ${KgOps.MaxComentionEntitiesPerPage}),
         |pe AS (SELECT pe0.i, pe0.ck FROM pe0 JOIN ok USING (i))
         |SELECT 'e' || lpad(CAST(a.ck AS VARCHAR), 4, '0') AS entity_a,
         | 'e' || lpad(CAST(b.ck AS VARCHAR), 4, '0') AS entity_b,
         | COUNT(*) AS n_pages
         |FROM pe a JOIN pe b ON a.i = b.i AND a.ck < b.ck
         |GROUP BY 1, 2 ORDER BY n_pages DESC, entity_a, entity_b LIMIT 30""".stripMargin),
    QuerySpec("qkg8_salted_degree", KgOps.qkg8SaltedDegree,
      s"""${KgOps.mentionCte}
         |SELECT 'e' || lpad(CAST(ck AS VARCHAR), 4, '0') AS entity_id,
         | COUNT(*) AS n_mentions
         |FROM c GROUP BY 1 ORDER BY n_mentions DESC, entity_id LIMIT 30""".stripMargin),
    // qkg9: triangles of the co-mention graph. The oracle enumerates
    // each triangle once as x < y < z over the canonical (a < b) edge
    // set — pure integer counting, exact.
    QuerySpec("qkg9_triangles", KgOps.qkg9Triangles,
      s"""${KgOps.mentionCte},
         |pe0 AS (SELECT DISTINCT i, ck FROM c),
         |ok AS (SELECT i FROM pe0 GROUP BY i
         |       HAVING COUNT(*) <= ${KgOps.MaxComentionEntitiesPerPage}),
         |pe AS (SELECT pe0.i, pe0.ck FROM pe0 JOIN ok USING (i)),
         |e AS (SELECT DISTINCT a.ck AS a, b.ck AS b
         |      FROM pe a JOIN pe b ON a.i = b.i AND a.ck < b.ck),
         |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |      FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
         |      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         |pn AS (SELECT x AS k FROM t
         |       UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
         |SELECT 'e' || lpad(CAST(k AS VARCHAR), 4, '0') AS entity_id,
         | COUNT(*) AS n_triangles
         |FROM pn GROUP BY 1 ORDER BY n_triangles DESC, entity_id LIMIT 30""".stripMargin),
    // qkg10: 3-iteration PageRank (d = 0.85) over the distinct canonical
    // (subj, obj) triple edges, unrolled in SQL. The per-node incoming
    // contributions are folded left-to-right in contributor order
    // (list_reduce over a list_sort'ed list) — the same deterministic
    // summation the Spark operator uses, so all 800 double ranks are
    // BIT-identical, not approximately equal. Entity ids are
    // fixed-width ('e' || lpad(..)), so string order == numeric order
    // and both engines fold in the same sequence.
    QuerySpec("qkg10_pagerank", KgOps.qkg10PageRank,
      s"""${KgOps.tripleCte},
         |e AS (SELECT DISTINCT 'e' || lpad(CAST(cs AS VARCHAR), 4, '0') AS src,
         |        'e' || lpad(CAST(co AS VARCHAR), 4, '0') AS dst FROM cz),
         |nodes AS (SELECT 'e' || lpad(CAST(k AS VARCHAR), 4, '0') AS id
         |          FROM range(800) t(k)),
         |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT id, CAST(1 AS DOUBLE)/800 AS rank FROM nodes),
         |s1 AS (SELECT e.dst AS id,
         |         list_reduce(list_transform(list_sort(
         |           list({'u': e.src, 'c': r.rank/od.outdeg})), x -> x.c),
         |           (a, b) -> a + b) AS s
         |       FROM e JOIN r0 r ON r.id = e.src JOIN od ON od.src = e.src
         |       GROUP BY 1),
         |r1 AS (SELECT n.id,
         |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))/800
         |           + CAST(0.85 AS DOUBLE) * COALESCE(s1.s, CAST(0 AS DOUBLE)) AS rank
         |       FROM nodes n LEFT JOIN s1 ON s1.id = n.id),
         |s2 AS (SELECT e.dst AS id,
         |         list_reduce(list_transform(list_sort(
         |           list({'u': e.src, 'c': r.rank/od.outdeg})), x -> x.c),
         |           (a, b) -> a + b) AS s
         |       FROM e JOIN r1 r ON r.id = e.src JOIN od ON od.src = e.src
         |       GROUP BY 1),
         |r2 AS (SELECT n.id,
         |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))/800
         |           + CAST(0.85 AS DOUBLE) * COALESCE(s2.s, CAST(0 AS DOUBLE)) AS rank
         |       FROM nodes n LEFT JOIN s2 ON s2.id = n.id),
         |s3 AS (SELECT e.dst AS id,
         |         list_reduce(list_transform(list_sort(
         |           list({'u': e.src, 'c': r.rank/od.outdeg})), x -> x.c),
         |           (a, b) -> a + b) AS s
         |       FROM e JOIN r2 r ON r.id = e.src JOIN od ON od.src = e.src
         |       GROUP BY 1),
         |r3 AS (SELECT n.id,
         |         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))/800
         |           + CAST(0.85 AS DOUBLE) * COALESCE(s3.s, CAST(0 AS DOUBLE)) AS rank
         |       FROM nodes n LEFT JOIN s3 ON s3.id = n.id)
         |SELECT id AS entity_id, rank FROM r3 ORDER BY entity_id""".stripMargin),
    // qkg11: the same 3-iteration PageRank through the TWO-LEVEL salted
    // fold (head-in-degree-proof at 100 TB); the oracle replays the
    // identical fold tree, so the 800 ranks are again BIT-identical.
    QuerySpec("qkg11_pagerank_salted", KgOps.qkg11PageRankSalted,
      KgOps.saltedPageRankOracle),
    // qkg13: personalized PageRank (teleport restricted to the 16 seed
    // entities); fold tree identical to qkg10's, so bit-identical ranks
    QuerySpec("qkg13_ppr", KgOps.qkg13Ppr, KgOps.pprOracle),
    // qkg14: HITS hubs/authorities, 2 max-normalized iterations — the
    // max is order-free and the sums are contributor-sorted folds, so
    // both doubles per entity are bit-identical
    QuerySpec("qkg14_hits", KgOps.qkg14Hits, KgOps.hitsOracle),
    // qkg15: BFS seed distances — recursive CTE with MIN(dist), integer-exact
    QuerySpec("qkg15_bfs", KgOps.qkg15Bfs, KgOps.bfsOracle),
    // qkg19: hop-bounded weighted SSSP — recursive ≤4-edge path
    // enumeration with MIN(dist) over integer arithmetic weights
    QuerySpec("qkg19_sssp", KgOps.qkg19Sssp, KgOps.ssspOracle),
    // qkg20: deterministic DeepWalk corpus — ranked sorted adjacency +
    // the LCG neighbor pick replayed per unrolled step
    QuerySpec("qkg20_walks", KgOps.qkg20Walks, KgOps.walksOracle),
    // qkg21: per-predicate out-degree histogram — integer log2 buckets
    // via binary-digit count
    QuerySpec("qkg21_degree_hist", KgOps.qkg21DegreeHist,
      KgOps.degreeHistOracle),
    // qkg22: HyperBall register state — exact ≤4-hop reach sets rebuilt
    // relationally, registers re-derived via the qsk1 arithmetic
    QuerySpec("qkg22_hyperball", KgOps.qkg22HyperBall, KgOps.hyperBallOracle),
    // qkg24: HyperBall harmonic centrality — raw-estimator floats
    // bit-identical through bucket- and hop-ordered folds
    QuerySpec("qkg24_harmonic", KgOps.qkg24Harmonic, KgOps.harmonicOracle),
    // qkg16: shared-neighbor Jaccard relatedness (hub cap 8 is proven
    // semantics: the oracle excludes super-hub shared neighbors too)
    QuerySpec("qkg16_related", KgOps.qkg16Related, KgOps.relatedOracle),
    // qkg23: Adamic–Adar — qkg16's wedge algebra + staged ExactMath ln
    // per capped neighbor degree + sorted per-pair fold (bit-identical)
    QuerySpec("qkg23_adamic_adar", KgOps.qkg23AdamicAdar,
      KgOps.adamicAdarOracle),
    // qkg17: 3 synchronous label-propagation rounds over the co-mention
    // graph, majority vote with smallest-label ties — integer counts +
    // string mins, replayed round-for-round by the oracle
    QuerySpec("qkg17_labelprop", KgOps.qkg17LabelProp, KgOps.labelPropOracle),
    // qkg25: the co-mention graph contracted by its LPA labels — the
    // qkg17 replay chain + least/greatest pair contraction
    QuerySpec("qkg25_community_graph", KgOps.qkg25CommunityGraph,
      KgOps.communityGraphOracle),
    // qkg18: 3-core of the co-mention graph by iterative peeling; the
    // oracle unrolls 12 rounds (≥ the measured fixpoint depth at every
    // scale; peeling is idempotent at the fixpoint)
    QuerySpec("qkg18_kcore", KgOps.qkg18KCore, KgOps.kCoreOracle),
    // qkg12: weakly-connected components of the canonical triple graph,
    // oracle = recursive-CTE label propagation to the min entity id
    // (the qdd3/qann5 pattern over the qkg10 edge set)
    QuerySpec("qkg12_components", KgOps.qkg12Components,
      s"""${KgOps.tripleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT DISTINCT 'e' || lpad(CAST(cs AS VARCHAR), 4, '0') AS u,
         |        'e' || lpad(CAST(co AS VARCHAR), 4, '0') AS v FROM cz),
         |edges AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         |nodes AS (SELECT 'e' || lpad(CAST(k AS VARCHAR), 4, '0') AS id
         |          FROM range(800) t(k)),
         |lbl(n, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT eg.v, lbl.l FROM lbl JOIN edges eg ON eg.u = lbl.n)
         |SELECT n AS entity_id, MIN(l) AS component FROM lbl
         |GROUP BY n ORDER BY entity_id""".stripMargin),
    // Dedup oracles rebuild the copy corpus and recompute pair ground
    // truth relationally (integer Jaccard threshold — no floating point).
    // qdc1: decontamination ground truth — rebuild the planted eval set
    // (words 11..60 of every 13th doc) and recompute shared-13-gram
    // counts relationally; both engines shingle distinct per doc, so the
    // join-row count IS the distinct shared-n-gram count
    QuerySpec("qdc1_contamination", DataOps.qdc1Contamination,
      """WITH tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ev AS (SELECT doc_id AS eval_id, ws[11:60] AS ws FROM tw
        |       WHERE doc_id % 13 = 0),
        |tsh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[r.i+1:r.i+13], ' ') AS g
        |  FROM tw JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 13),
        |esh AS (SELECT DISTINCT eval_id,
        |    array_to_string(ws[r.i+1:r.i+13], ' ') AS g
        |  FROM ev JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 13)
        |SELECT t.doc_id AS train_id, e.eval_id, COUNT(*) AS shared_ngrams
        |FROM tsh t JOIN esh e ON e.g = t.g
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // qdc2: the decontamination DECISION table — qdc1's collision
    // machinery at minShared=13, aggregated per train doc, left-joined
    // so clean docs report zeros
    QuerySpec("qdc2_decontaminate", DataOps.qdc2Decontaminate,
      """WITH tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ev AS (SELECT doc_id AS eval_id, ws[11:60] AS ws FROM tw
        |       WHERE doc_id % 13 = 0),
        |tsh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[r.i+1:r.i+13], ' ') AS g
        |  FROM tw JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 13),
        |esh AS (SELECT DISTINCT eval_id,
        |    array_to_string(ws[r.i+1:r.i+13], ' ') AS g
        |  FROM ev JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 13),
        |pr AS (SELECT t.doc_id, e.eval_id, COUNT(*) AS n
        |       FROM tsh t JOIN esh e ON e.g = t.g
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 13),
        |h AS (SELECT doc_id, COUNT(DISTINCT eval_id) AS n_eval_hits,
        |        MAX(n) AS max_shared
        |      FROM pr GROUP BY 1)
        |SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated,
        |  CAST(COALESCE(h.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
        |  CAST(COALESCE(h.max_shared, 0) AS BIGINT) AS max_shared
        |FROM documents d LEFT JOIN h USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("qdd1_exact_dedup", DataOps.qdd1ExactDedup,
      s"""$dedupCorpusCte
         |SELECT md5(text) AS text_hash, COUNT(*) AS n_docs,
         | MIN(doc_id) AS canonical
         |FROM corpus GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY text_hash""".stripMargin),
    QuerySpec("qdd2_neardup_allpairs", DataOps.qdd2NearDupAllPairs,
      s"""$dedupCorpusCte, $dedupPairsCte
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin),
    QuerySpec("qdd3_dedup_clusters", DataOps.qdd3DedupClusters,
      s"""$dedupCorpusCte, $dedupPairsCte,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |lbl(n, l) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT e.v, lbl.l FROM lbl JOIN edges e ON e.u = lbl.n)
         |SELECT n AS doc_id, MIN(l) AS canonical FROM lbl
         |GROUP BY n ORDER BY doc_id""".stripMargin),
    // qdd7: per-cluster representative — most tokens, tie -> min doc_id
    QuerySpec("qdd7_keep_best", DataOps.qdd7KeepBest,
      s"""$dedupCorpusCte, $dedupPairsCte,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |lbl(n, l) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT e.v, lbl.l FROM lbl JOIN edges e ON e.u = lbl.n),
         |cl AS (SELECT n AS doc_id, MIN(l) AS canonical FROM lbl GROUP BY n),
         |tk AS (SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |       FROM corpus),
         |best AS (
         |  SELECT cl.canonical, cl.doc_id AS kept_doc, tk.n_tokens AS kept_tokens,
         |   ROW_NUMBER() OVER (PARTITION BY cl.canonical
         |     ORDER BY tk.n_tokens DESC, cl.doc_id) AS rn,
         |   COUNT(*) OVER (PARTITION BY cl.canonical) AS n_docs
         |  FROM cl JOIN tk ON tk.doc_id = cl.doc_id)
         |SELECT canonical, kept_doc, kept_tokens, n_docs FROM best
         |WHERE rn = 1 ORDER BY canonical""".stripMargin),
    // qsp5: hash negatives replayed with the same md5 draw arithmetic,
    // accidental positives excluded exactly
    QuerySpec("qsp5_negatives", DataOps.qsp5Negatives,
      """WITH d AS (SELECT doc_id FROM documents),
        |pos AS (SELECT doc_id, doc_id % 1000 AS entity FROM d
        |        UNION ALL
        |        SELECT doc_id, (doc_id * 7 + 3) % 1000 FROM d),
        |j AS (SELECT unnest(generate_series(0, 3)) AS draw),
        |draws AS (
        | SELECT doc_id, entity, CAST(draw AS BIGINT) AS draw,
        |  CAST(concat('0x', substring(md5(concat(CAST(draw AS VARCHAR), ':',
        |    CAST(doc_id AS VARCHAR), ':', CAST(entity AS VARCHAR))),
        |    1, 8)) AS BIGINT) % 1000 AS negative
        | FROM pos CROSS JOIN j)
        |SELECT doc_id, entity, draw, negative FROM draws dr
        |WHERE NOT EXISTS (SELECT 1 FROM pos p
        |                  WHERE p.doc_id = dr.doc_id AND p.entity = dr.negative)
        |ORDER BY doc_id, entity, draw""".stripMargin),
    QuerySpec("qdd4_minhash_lsh", DataOps.qdd4MinhashLsh,
      s"""$dedupCorpusCte, $dedupPairsCte
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin),
    QuerySpec("qdd5_simhash", DataOps.qdd5Simhash,
      s"""$dedupCorpusCte, $dedupPairsCte
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin),
    // qdd6: CDC chunk dedup — the oracle rebuilds the copy corpus,
    // replays the boundary-word rule (fold (h*31+c) % 1000003 over the
    // word's code units, boundary when h % 8 = 0), re-chunks via a
    // prefix-sum window, and recomputes the df-capped shared-chunk pairs
    QuerySpec("qdd6_cdc_pairs", DataOps.qdd6CdcPairs,
      s"""$dedupCorpusCte,
         |w AS (SELECT doc_id, r.i AS pos, ws[r.i + 1] AS w
         |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus) c
         |      JOIN range(0, 100000) r(i) ON r.i < len(ws)),
         |h AS (SELECT doc_id, pos, w,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(string_split(w, ''),
         |            ch -> CAST(unicode(ch) AS BIGINT))),
         |          (hh, c2) -> (hh * 31 + c2) % 1000003) AS hw
         |      FROM w),
         |ci AS (SELECT doc_id, pos, w,
         |        COALESCE(SUM(CASE WHEN hw % 8 = 0 THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY pos
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0) AS chunk_idx
         |       FROM h),
         |ch AS (SELECT DISTINCT doc_id,
         |        md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
         |       FROM ci GROUP BY doc_id, chunk_idx),
         |df_ AS (SELECT chunk_hash, COUNT(*) AS df FROM ch GROUP BY 1),
         |kept AS (SELECT ch.doc_id, ch.chunk_hash FROM ch
         |         JOIN df_ USING (chunk_hash) WHERE df <= 64)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  COUNT(*) AS shared_chunks
         |FROM kept a JOIN kept b2
         |  ON a.chunk_hash = b2.chunk_hash AND a.doc_id < b2.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY doc_a, doc_b""".stripMargin),
    // qev1: sessionization — 8 h inactivity timeout, per-user (ts,
    // event_id) order, all epoch-microsecond integers
    QuerySpec("qev1_sessionize", DataOps.qev1Sessionize,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, us, event_id,
        |  CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 28800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    - 1 AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        | MIN(us) AS start_us, MAX(us) AS end_us
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin),
    // qev2: cohort retention — integer day arithmetic (epoch_us div
    // one day), distinct activity, per-user min cohort
    QuerySpec("qev2_retention", DataOps.qev2Retention,
      """WITH a AS (SELECT DISTINCT user_id,
        |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        | COUNT(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin),
    // qev3: ordered funnel with first-touch anchors — each step's
    // anchor is the min event time STRICTLY after the previous anchor
    QuerySpec("qev3_funnel", DataOps.qev3Funnel,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, MIN(us) AS a1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(us) AS a2 FROM e
        |       JOIN s1 ON s1.user_id = e.user_id AND e.us > s1.a1
        |       WHERE event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(us) AS a3 FROM e
        |       JOIN s2 ON s2.user_id = e.user_id AND e.us > s2.a2
        |       WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |  (SELECT COUNT(*) FROM s1) AS n_users
        | UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        | UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)) t
        |ORDER BY step""".stripMargin),
    // qev4: exact rank-selected quantiles — target rank by integer ceil
    // division, values are INPUT doubles so they compare bit-for-bit
    QuerySpec("qev4_quantiles", DataOps.qev4Quantiles,
      """WITH r AS (SELECT event_type, value, ROW_NUMBER() OVER (
        |    PARTITION BY event_type ORDER BY value, event_id) AS rn
        |  FROM events),
        |c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
        |w AS (SELECT event_type, n,
        |   unnest([CAST(25 AS BIGINT), CAST(50 AS BIGINT),
        |           CAST(75 AS BIGINT)]) AS pct FROM c),
        |t AS (SELECT event_type, pct, (pct * n + 99) // 100 AS target_rn FROM w)
        |SELECT t.event_type, t.pct, r.value
        |FROM t JOIN r ON r.event_type = t.event_type AND r.rn = t.target_rn
        |ORDER BY t.event_type, t.pct""".stripMargin),
    // qev5: as-of join (last-touch attribution) — latest view ≤ each
    // purchase; the oracle states the tiebreak (max view_id at equal
    // times) the engine's union+carry-forward resolves to
    QuerySpec("qev5_asof", DataOps.qev5Asof,
      """WITH e AS (SELECT event_id, epoch_us(ts) AS us, user_id, event_type
        |           FROM events),
        |p AS (SELECT event_id AS purchase_id, us AS purchase_us, user_id
        |      FROM e WHERE event_type = 'purchase')
        |SELECT purchase_id, user_id, purchase_us, view_id, view_us FROM (
        | SELECT p.purchase_id, p.user_id, p.purchase_us,
        |  v.event_id AS view_id, v.us AS view_us,
        |  ROW_NUMBER() OVER (PARTITION BY p.purchase_id
        |   ORDER BY v.us DESC, v.event_id DESC) AS rn
        | FROM p JOIN e v ON v.user_id = p.user_id
        |  AND v.event_type = 'view' AND v.us <= p.purchase_us) t
        |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),
    // qev6: trailing 7-day rolling distinct active users — the oracle
    // states it the declarative way (day × activity range join +
    // COUNT DISTINCT); the engine's disjoint-interval explode must
    // agree exactly
    QuerySpec("qev6_rolling_active", DataOps.qev6RollingActive,
      """WITH a AS (SELECT DISTINCT user_id,
        |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
        |d AS (SELECT unnest(generate_series((SELECT MIN(day) FROM a),
        |  (SELECT MAX(day) FROM a) + 6)) AS day)
        |SELECT d.day, COUNT(DISTINCT a.user_id) AS n_users
        |FROM d JOIN a ON a.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // qev7: daily LOCF gap fill — the oracle states it declaratively:
    // per-(user,day) last value by (us, event_id) rank, a generated
    // per-user day grid, and LAST_VALUE IGNORE NULLS — the engine's
    // argmax-struct + disjoint-interval explode must agree row-for-row
    QuerySpec("qev7_locf", DataOps.qev7Locf,
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
        |d AS (SELECT user_id, day, value FROM (
        |  SELECT user_id, day, value, ROW_NUMBER() OVER (
        |    PARTITION BY user_id, day ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e) t WHERE rn = 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day
        |  FROM (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
        |        FROM d GROUP BY 1) s)
        |SELECT g.user_id, g.day,
        | LAST_VALUE(d.value IGNORE NULLS) OVER (
        |  PARTITION BY g.user_id ORDER BY g.day) AS value
        |FROM grid g LEFT JOIN d ON d.user_id = g.user_id AND d.day = g.day
        |ORDER BY 1, 2""".stripMargin),
    // qev8: consecutive-event transition counts per user (time order,
    // event_id tiebreak); prob is one double division of exact integers
    // qev11: time-to-convert — two conditional MINs per user, integer gap
    QuerySpec("qev11_time_to_convert", DataOps.qev11TimeToConvert,
      """SELECT user_id, first_from_us, first_to_us,
        | first_to_us - first_from_us AS ttc_us
        |FROM (SELECT user_id,
        |       MIN(CASE WHEN event_type = 'view'
        |           THEN epoch_us(ts) END) AS first_from_us,
        |       MIN(CASE WHEN event_type = 'purchase'
        |           THEN epoch_us(ts) END) AS first_to_us
        |      FROM events GROUP BY 1) t
        |WHERE first_from_us IS NOT NULL AND first_to_us >= first_from_us
        |ORDER BY user_id""".stripMargin),
    // qsp8: token-budget mixture — the two-level prefix sum equals a
    // naive per-stratum running total under the (shard, h, key) order,
    // which is what the oracle states; boundary doc included
    QuerySpec("qsp8_token_budget", DataOps.qsp8TokenBudget,
      """WITH d AS (SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    md5(lang || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |b(lang, budget) AS (VALUES ('en', 40000), ('de', 15000),
        |                           ('es', 100000000)),
        |s AS (SELECT d.*, b.budget,
        |    CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS shard
        |  FROM d JOIN b USING (lang)),
        |c AS (SELECT *, CAST(COALESCE(SUM(n) OVER (PARTITION BY lang
        |    ORDER BY shard, h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) AS cum_before FROM s)
        |SELECT lang, doc_id, n AS n_tokens, cum_before
        |FROM c WHERE cum_before < budget
        |ORDER BY lang, doc_id""".stripMargin),
    // qsp7: per-epoch shuffled order — shard = first md5 byte, rank
    // within (epoch, shard) by (hash, key)
    QuerySpec("qsp7_epoch_order", DataOps.qsp7EpochOrder,
      """WITH e AS (SELECT CAST(ep.epoch AS BIGINT) AS epoch, d.doc_id,
        |    md5(CAST(ep.epoch AS VARCHAR) || ':'
        |      || CAST(d.doc_id AS VARCHAR)) AS h
        |  FROM documents d CROSS JOIN
        |   (SELECT unnest(generate_series(0, 1)) AS epoch) ep),
        |s AS (SELECT epoch, doc_id, h,
        |    CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS shard
        |  FROM e)
        |SELECT epoch, shard, doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
        |    ORDER BY h, doc_id) AS BIGINT) AS ord
        |FROM s ORDER BY epoch, shard, ord""".stripMargin),
    // qev10: RFM quintiles — decimal-exact monetary, integer recency,
    // NTILE(5) with user_id tie-breaks (the SQL-standard split both
    // engines implement)
    QuerySpec("qev10_rfm", DataOps.qev10Rfm,
      """WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
        |u AS (SELECT user_id,
        |        CAST((mx.m - MAX(epoch_us(ts))) // 86400000000 AS BIGINT)
        |          AS recency_days,
        |        COUNT(*) AS frequency,
        |        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
        |      FROM events, mx GROUP BY user_id, mx.m)
        |SELECT user_id, recency_days, frequency, monetary,
        | CAST(NTILE(5) OVER (ORDER BY recency_days, user_id) AS BIGINT)
        |   AS r_score,
        | CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
        |   AS f_score,
        | CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT)
        |   AS m_score
        |FROM u ORDER BY user_id""".stripMargin),
    // qsk9: HLL audience overlap — per-segment registers, union by MAX,
    // raw estimates (bucket-ordered folds), inclusion–exclusion
    QuerySpec("qsk9_hll_overlap", DataOps.qsk9HllOverlap,
      """WITH vp AS (SELECT event_type AS tag,
        |        md5(CAST(user_id AS VARCHAR)) AS h
        |      FROM events WHERE event_type IN ('view', 'purchase')),
        |p AS (SELECT tag,
        |       CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS bucket,
        |       ltrim(substring(h, 3, 15), '0') AS t FROM vp),
        |rk AS (SELECT tag, bucket,
        |        MAX(CAST(60 - length(t) * 4 +
        |         CASE substring(t, 1, 1)
        |          WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |          WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |          WHEN '7' THEN 1 ELSE 0 END + 1 AS BIGINT)) AS r
        |       FROM p GROUP BY 1, 2),
        |un AS (SELECT 'union' AS tag, bucket, MAX(r) AS r FROM rk
        |       GROUP BY bucket),
        |allr AS (SELECT * FROM rk UNION ALL SELECT * FROM un),
        |est AS (SELECT tag,
        |        (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |           + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
        |         * CAST(65536.0 AS DOUBLE)
        |         / ((CAST(256.0 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE))
        |            + list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                list_transform(list_sort(list({'b': bucket, 'r': r})),
        |                  x -> power(CAST(2.0 AS DOUBLE),
        |                    -CAST(x.r AS DOUBLE)))),
        |                (a, b) -> a + b)) AS est
        |        FROM allr GROUP BY tag),
        |sel AS (SELECT
        |    MAX(CASE WHEN tag = 'view' THEN est END) AS est_view,
        |    MAX(CASE WHEN tag = 'purchase' THEN est END) AS est_purchase,
        |    MAX(CASE WHEN tag = 'union' THEN est END) AS est_union
        |  FROM est)
        |SELECT est_view, est_purchase, est_union,
        | est_view + est_purchase - est_union AS est_overlap
        |FROM sel""".stripMargin),
    // qsk8: per-group HLL registers — qsk1's arithmetic with the
    // event_type dimension prefixed
    QuerySpec("qsk8_hll_by_type", DataOps.qsk8HllByType,
      """WITH p AS (SELECT event_type,
        |  CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS bucket,
        |  ltrim(substring(h, 3, 15), '0') AS t
        | FROM (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
        |       FROM events) q)
        |SELECT event_type, bucket,
        | MAX(CAST(60 - length(t) * 4 +
        |  CASE substring(t, 1, 1)
        |   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |   WHEN '7' THEN 1 ELSE 0 END + 1 AS BIGINT)) AS max_rank,
        | COUNT(*) AS n_keys
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // qev9: SCD-2 validity intervals — LEAD over (us, event_id); value
    // doubles pass through unchanged so they bit-match
    QuerySpec("qev9_scd2", DataOps.qev9Scd2,
      """SELECT user_id, event_id, value, valid_from_us,
        | valid_to_us, valid_to_us IS NULL AS is_current
        |FROM (
        | SELECT user_id, event_id, value, epoch_us(ts) AS valid_from_us,
        |  LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS valid_to_us
        | FROM events) t
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin),
    QuerySpec("qev8_transitions", DataOps.qev8Transitions,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |           FROM events),
        |p AS (SELECT event_type AS from_type, LEAD(event_type) OVER (
        |        PARTITION BY user_id ORDER BY us, event_id) AS to_type FROM e),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS from_total
        |      FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, t.from_total,
        | CAST(c.n AS DOUBLE) / CAST(t.from_total AS DOUBLE) AS prob
        |FROM c JOIN t USING (from_type) ORDER BY 1, 2""".stripMargin),
    // qsp4: cumulative md5 thresholds — floor-rounded 0.8/0.9 of 2^32
    // as hex (cccccccd / e6666666); the last split is the unconditional
    // remainder so every key is assigned
    QuerySpec("qsp4_splits", DataOps.qsp4Splits,
      """SELECT doc_id,
        | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccd'
        |       THEN 'train'
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |       THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    // qsk2: Count-Min counters — 4 rows x 1024 columns, counter =
    // md5('r:term') first 32 bits mod width; zero counters not emitted
    QuerySpec("qsk2_cms_counters", DataOps.qsk2CmsCounters,
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |x AS (SELECT r.r, CAST(concat('0x', substring(md5(concat(
        |        CAST(r.r AS VARCHAR), ':', term)), 1, 8)) AS BIGINT) % 1024 AS c
        |      FROM tok CROSS JOIN
        |       (SELECT unnest(generate_series(0, 3)) AS r) r)
        |SELECT r, c, COUNT(*) AS cnt FROM x GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    // qsp6: A-Res priorities replayed with the ENGINE-PORTABLE
    // polynomial ln (ExactMath — libm ln differs across engines in the
    // last bit); ln u = lnOfInt(h+1) − 32·ln2, staged CTE intermediates
    QuerySpec("qsp6_weighted_sample", DataOps.qsp6WeightedSample,
      s"""WITH h AS (SELECT o_orderkey, o_totalprice,
         |  CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)),
         |    1, 8)) AS BIGINT) + 1 AS n
         | FROM orders WHERE o_totalprice > CAST(0.0 AS DOUBLE)),
         |b AS (SELECT *, ${ExactMath.blSql("n")} AS bl FROM h),
         |c AS (SELECT *, ${ExactMath.mSql("n", "bl")} AS mm FROM b),
         |d AS (SELECT *, ${ExactMath.zSql("mm")} AS z FROM c),
         |e AS (SELECT *, z * z AS z2 FROM d),
         |f AS (SELECT *, ${ExactMath.lnFromPartsSql()} AS lnn FROM e)
         |SELECT o_orderkey, o_totalprice,
         | (lnn - CAST(32.0 AS DOUBLE) * CAST(${ExactMath.Ln2} AS DOUBLE))
         |   / o_totalprice AS sample_priority
         |FROM f ORDER BY sample_priority DESC, o_orderkey LIMIT 50""".stripMargin),
    // qsk7: histogram bins replayed — same float association, edge
    // clamping included
    QuerySpec("qsk7_histogram", DataOps.qsk7Histogram,
      """SELECT GREATEST(0, LEAST(63,
        |  CAST(floor((value - CAST(0.0 AS DOUBLE))
        |    / (CAST(20.0 AS DOUBLE) - CAST(0.0 AS DOUBLE)) * 64) AS BIGINT)))
        |  AS bin, COUNT(*) AS cnt
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // qsk6: merged half-sketches must equal the whole-corpus registers
    // (same SQL as qsk1 — equivalence proven, not replayed)
    QuerySpec("qsk6_hll_merge", DataOps.qsk6HllMerge,
      """WITH p AS (SELECT
        |  CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS bucket,
        |  ltrim(substring(h, 3, 15), '0') AS t
        | FROM (SELECT md5(CAST(doc_id AS VARCHAR)) AS h FROM documents) q)
        |SELECT bucket,
        | MAX(CAST(60 - length(t) * 4 +
        |  CASE substring(t, 1, 1)
        |   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |   WHEN '7' THEN 1 ELSE 0 END + 1 AS BIGINT)) AS max_rank,
        | COUNT(*) AS n_keys
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    // qsk4: bloom 1-bits replayed with the same md5 position hash
    QuerySpec("qsk4_bloom_bits", DataOps.qsk4BloomBits,
      """WITH k AS (SELECT o_orderkey FROM orders
        |           WHERE o_orderpriority = '1-URGENT'),
        |x AS (SELECT CAST(concat('0x', substring(md5(concat(
        |        CAST(j.j AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR))),
        |        1, 8)) AS BIGINT) % 65536 AS pos
        |      FROM k CROSS JOIN
        |       (SELECT unnest(generate_series(0, 2)) AS j) j)
        |SELECT DISTINCT pos FROM x ORDER BY pos""".stripMargin),
    // qsk5: the bloom layer is transparent — the oracle is the plain
    // exact semi-join aggregate
    QuerySpec("qsk5_bloom_semijoin", DataOps.qsk5BloomSemijoin,
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // qsk3: CMS point estimates for the top-20 tokens — probe cells via
    // the same md5 hash as the counter build, MIN over depth, join truth
    QuerySpec("qsk3_cms_estimates", DataOps.qsk3CmsEstimates,
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |truth AS (SELECT term, COUNT(*) AS true_cnt FROM tok GROUP BY 1),
        |probes AS (SELECT term, true_cnt FROM truth
        |           ORDER BY true_cnt DESC, term LIMIT 20),
        |rr AS (SELECT unnest(generate_series(0, 3)) AS r),
        |x AS (SELECT rr.r, CAST(concat('0x', substring(md5(concat(
        |        CAST(rr.r AS VARCHAR), ':', term)), 1, 8)) AS BIGINT) % 1024 AS c
        |      FROM tok CROSS JOIN rr),
        |counters AS (SELECT r, c, COUNT(*) AS cnt FROM x GROUP BY 1, 2),
        |pc AS (SELECT p.term, p.true_cnt, rr.r,
        |        CAST(concat('0x', substring(md5(concat(
        |          CAST(rr.r AS VARCHAR), ':', p.term)), 1, 8)) AS BIGINT) % 1024 AS c
        |       FROM probes p CROSS JOIN rr)
        |SELECT pc.term, pc.true_cnt,
        |  MIN(COALESCE(ct.cnt, CAST(0 AS BIGINT))) AS cms_est
        |FROM pc LEFT JOIN counters ct USING (r, c)
        |GROUP BY 1, 2 ORDER BY term""".stripMargin),
    QuerySpec("qtx1_tokens", DataOps.qtx1Tokens,
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("qtx2_quality", DataOps.qtx2Quality,
      """SELECT doc_id,
        | CAST(len(list_filter(string_split(text, ' '),
        |   w -> w IN ('the','a','an','and','of','to','in'))) AS BIGINT) AS n_stopwords,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_filter(string_split(text, ' '),
        |   w -> w IN ('the','a','an','and','of','to','in'))) AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
        | CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("qtx3_langid", DataOps.qtx3LangId,
      """WITH s AS (
        | SELECT doc_id, lang,
        |  CAST((length(' '||text||' ') - length(replace(' '||text||' ',' the ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' and ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' of ','')))/4 AS BIGINT) AS s_en,
        |  CAST((length(' '||text||' ') - length(replace(' '||text||' ',' der ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' und ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' das ','')))/5 AS BIGINT) AS s_de,
        |  CAST((length(' '||text||' ') - length(replace(' '||text||' ',' el ','')))/4
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' los ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' una ','')))/5 AS BIGINT) AS s_es,
        |  CAST((length(' '||text||' ') - length(replace(' '||text||' ',' le ','')))/4
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' les ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' une ','')))/5 AS BIGINT) AS s_fr
        | FROM documents)
        |SELECT doc_id, lang,
        | CASE WHEN GREATEST(s_en,s_de,s_es,s_fr) = 0 THEN 'und'
        |      WHEN s_en = GREATEST(s_en,s_de,s_es,s_fr) THEN 'en'
        |      WHEN s_de = GREATEST(s_en,s_de,s_es,s_fr) THEN 'de'
        |      WHEN s_es = GREATEST(s_en,s_de,s_es,s_fr) THEN 'es'
        |      ELSE 'fr' END AS pred_lang,
        | s_en
        |FROM s ORDER BY doc_id""".stripMargin),
    QuerySpec("qtx4_fingerprint", DataOps.qtx4Fingerprint,
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("qtx5_rabin", DataOps.qtx5Rabin,
      """SELECT doc_id, CAST(list_reduce(
        |  list_prepend(CAST(0 AS HUGEINT),
        |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS HUGEINT))),
        |  (h, c) -> (h * 257 + c) % 2305843009213693951
        |) AS BIGINT) AS rabin_fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("qtx6_chunks", DataOps.qtx6Chunks,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, ws, len(ws) AS n FROM t),
        |c AS (SELECT doc_id, r.i AS st, n, ws FROM s
        |      JOIN range(0, 100000) r(i) ON r.i < n AND r.i % 24 = 0)
        |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_idx,
        | CAST(LEAST(32, n - st) AS BIGINT) AS n_chunk_tokens,
        | md5(array_to_string(list_slice(ws, st + 1, st + 32), ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    // qtx7: DuckDB regexp_replace needs the 'g' flag (Spark replaces all
    // matches by default); patterns are ASCII-only so Java regex ≡ RE2.
    QuerySpec("qtx7_redact", DataOps.qtx7Redact,
      """WITH p AS (
        | SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail'
        |   || CAST(doc_id % 7 AS VARCHAR) || '.example or 10.'
        |   || CAST(doc_id % 256 AS VARCHAR) || '.0.'
        |   || CAST(doc_id % 100 AS VARCHAR) || ' ext 555-'
        |   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        | CAST(len(regexp_extract_all(t, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        | md5(regexp_replace(regexp_replace(regexp_replace(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |   '\b\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_hash
        |FROM p ORDER BY doc_id""".stripMargin),
    QuerySpec("qtx8_bigram_support", DataOps.qtx8BigramSupport,
      """WITH b AS (
        | SELECT doc_id,
        |  ws[r.i + 1] || ' ' || ws[r.i + 2] AS bigram
        | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t
        | JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 2
        | WHERE len(ws) >= 2),
        |df_ AS (SELECT bigram, COUNT(DISTINCT doc_id) AS bigram_df
        |        FROM b GROUP BY bigram)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        | CAST(SUM(CASE WHEN bigram_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_supported,
        | CAST(SUM(CASE WHEN bigram_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE) AS support_ratio
        |FROM b JOIN df_ USING (bigram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // qtx9: top-3 distinctive terms per doc by the INTEGER-EXACT score
    // tf * 10^6 // df (integral division — the log-free tf·idf ranking);
    // ties break by term, so the top-3 set is engine-independent
    QuerySpec("qtx9_distinctive_terms", DataOps.qtx9DistinctiveTerms,
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |t AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |      WHERE length(term) > 0 GROUP BY 1, 2),
        |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY 1),
        |s AS (SELECT t.doc_id, t.term, t.tf, d.df,
        |        t.tf * CAST(1000000 AS BIGINT) // d.df AS score
        |      FROM t JOIN d USING (term)),
        |r AS (SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM s)
        |SELECT doc_id, term, tf, df, score FROM r WHERE rn <= 3
        |ORDER BY doc_id, term""".stripMargin),
    // qtx17: cross-document segment dedup — 15-token non-overlapping
    // segments over the planted-copy corpus, keep-first by the composite
    // occurrence key doc_id·10⁶ + seg_idx; kept text pinned by ordered
    // md5 (empty → md5(''))
    QuerySpec("qtx17_segment_dedup", DataOps.qtx17SegmentDedup,
      s"""$dedupCorpusCte,
         |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
         |segs AS (SELECT doc_id, CAST(r.i // 15 AS BIGINT) AS seg_idx,
         |    array_to_string(list_slice(ws, r.i + 1, r.i + 15), ' ') AS seg
         |  FROM t JOIN range(0, 100000) r(i)
         |    ON r.i < len(ws) AND r.i % 15 = 0),
         |o AS (SELECT doc_id, seg_idx, seg, md5(seg) AS sh,
         |    doc_id * 1000000 + seg_idx AS occ FROM segs),
         |f AS (SELECT sh, MIN(occ) AS keep_occ FROM o GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_segments,
         |  COUNT(CASE WHEN occ = keep_occ THEN 1 END) AS n_kept,
         |  md5(COALESCE(string_agg(CASE WHEN occ = keep_occ THEN seg END,
         |    ' ' ORDER BY seg_idx), '')) AS kept_md5,
         |  COUNT(*) - COUNT(CASE WHEN occ = keep_occ THEN 1 END) AS n_dropped
         |FROM o JOIN f USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // qtx18: 3 unrolled BPE merge iterations (see bpeOracle)
    QuerySpec("qtx18_bpe_merges", DataOps.qtx18BpeMerges, bpeOracle(3)),
    // qtx21: novelty — per-gram first occurrence on the composite
    // doc_id·10⁶+pos, fraction of occurrences introduced by this doc
    QuerySpec("qtx21_novelty", DataOps.qtx21Novelty,
      s"""$dedupCorpusCte,
         |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
         |g AS (SELECT doc_id, r.i AS p,
         |    array_to_string(ws[r.i+1:r.i+3], ' ') AS gram
         |  FROM t JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 3
         |  WHERE len(ws) >= 3),
         |o AS (SELECT doc_id, gram, doc_id * 1000000 + p AS occ FROM g),
         |f AS (SELECT gram, MIN(occ) AS first_occ FROM o GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  COUNT(CASE WHEN first_occ // 1000000 = doc_id THEN 1 END)
         |    AS n_novel,
         |  CAST(COUNT(CASE WHEN first_occ // 1000000 = doc_id THEN 1 END)
         |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
         |FROM o JOIN f USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // qtx20: per-source profile — counts + dominant-language argmax
    QuerySpec("qtx20_source_profile", DataOps.qtx20SourceProfile,
      """WITH p AS (SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |       COUNT(DISTINCT lang) AS n_langs
        |      FROM documents GROUP BY 1),
        |lc AS (SELECT source, lang, COUNT(*) AS c FROM documents
        |       GROUP BY 1, 2),
        |t AS (SELECT source, lang AS top_lang, c AS top_lang_docs,
        |       ROW_NUMBER() OVER (PARTITION BY source
        |         ORDER BY c DESC, lang) AS rn FROM lc)
        |SELECT p.source, n_docs, n_tokens, n_langs, top_lang, top_lang_docs
        |FROM p JOIN t ON t.source = p.source AND t.rn = 1
        |ORDER BY p.source""".stripMargin),
    // qkg26: square counts — qkg16's wedge algebra + C(c,2) integer div
    QuerySpec("qkg26_squares", KgOps.qkg26Squares, KgOps.squaresOracle),
    // qkg27: truncated Katz — integer path counts, dyadic damping
    QuerySpec("qkg27_katz", KgOps.qkg27Katz, KgOps.katzOracle),
    // qtx19: Heaps vocabulary growth — global token order via doc-table
    // cumulative offsets, per-term MIN first position, checkpoint counts
    QuerySpec("qtx19_vocab_growth", DataOps.qtx19VocabGrowth,
      """WITH dl AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |      FROM documents),
        |o AS (SELECT doc_id,
        |       COALESCE(SUM(n) OVER (ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         CAST(0 AS BIGINT)) AS off
        |      FROM dl),
        |tk AS (SELECT t.doc_id, r.i AS p, t.ws[r.i + 1] AS term
        |       FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |             FROM documents) t
        |       JOIN range(0, 100000) r(i) ON r.i < len(t.ws)
        |       WHERE length(t.ws[r.i + 1]) > 0),
        |f AS (SELECT term, MIN(o.off + tk.p + 1) AS first_pos
        |      FROM tk JOIN o USING (doc_id) GROUP BY term),
        |cp(n_tokens) AS (VALUES (CAST(1000 AS BIGINT)), (2000), (5000),
        |                        (10000), (20000), (50000))
        |SELECT n_tokens,
        |  (SELECT COUNT(*) FROM f WHERE first_pos <= cp.n_tokens) AS vocab
        |FROM cp ORDER BY n_tokens""".stripMargin),
    // qtx13: df-driven token pruning — integer df thresholds (stop ≥ 30%
    // of docs, rare < 2), kept text pinned by md5 in original token order
    QuerySpec("qtx13_df_prune", DataOps.qtx13DfPrune,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |toks AS (SELECT doc_id, r.i + 1 AS pos, ws[r.i + 1] AS term
        |         FROM t JOIN range(0, 100000) r(i) ON r.i < len(ws)
        |         WHERE length(ws[r.i + 1]) > 0),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n FROM documents),
        |cls AS (SELECT term,
        |          CASE WHEN df * 100 >= 30 * (SELECT n FROM nd) THEN 'stop'
        |               WHEN df < 2 THEN 'rare' ELSE 'keep' END AS cls
        |        FROM dfq),
        |j AS (SELECT toks.doc_id, toks.pos, toks.term, cls.cls
        |      FROM toks JOIN cls USING (term))
        |SELECT doc_id,
        |  COUNT(*) AS n_tokens,
        |  COUNT(*) FILTER (WHERE cls = 'keep') AS n_kept,
        |  COUNT(*) FILTER (WHERE cls = 'stop') AS n_stop,
        |  COUNT(*) FILTER (WHERE cls = 'rare') AS n_rare,
        |  md5(COALESCE(string_agg(term, ' ' ORDER BY pos)
        |        FILTER (WHERE cls = 'keep'), '')) AS kept_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // qtx14: BM25 replayed — every input integer-exact, idf via the
    // ENGINE-PORTABLE polynomial ln (ExactMath; libm ln is not
    // bit-portable) as ln(2(N−df)+1) − ln(2df+1), per-doc term sum
    // folded in sorted term order (the qkg10 discipline)
    QuerySpec("qtx14_bm25", DataOps.qtx14Bm25,
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |             FROM documents),
         |dl AS (SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |       FROM documents),
         |c AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM dl),
         |ft AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |       WHERE term IN ('dup', 'spark', 'join') GROUP BY 1, 2),
         |dfs AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
         |        WHERE term IN ('dup', 'spark', 'join') GROUP BY 1),
         |g AS (SELECT term, df,
         |        2 * ((SELECT n FROM c) - df) + 1 AS na,
         |        2 * df + 1 AS nb FROM dfs),
         |ga AS (SELECT *, ${ExactMath.blSql("na")} AS bla,
         |         ${ExactMath.blSql("nb")} AS blb FROM g),
         |gm AS (SELECT *, ${ExactMath.mSql("na", "bla")} AS ma,
         |         ${ExactMath.mSql("nb", "blb")} AS mb FROM ga),
         |gz AS (SELECT *, ${ExactMath.zSql("ma")} AS za,
         |         ${ExactMath.zSql("mb")} AS zb FROM gm),
         |g2 AS (SELECT *, za * za AS za2, zb * zb AS zb2 FROM gz),
         |gl AS (SELECT term, df,
         |        ${ExactMath.lnFromPartsSql("bla", "za", "za2")}
         |        - ${ExactMath.lnFromPartsSql("blb", "zb", "zb2")} AS idf
         |       FROM g2),
         |part AS (
         | SELECT ft.doc_id, ft.term,
         |  gl.idf
         |   * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |   / (tf + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
         |        + CAST(0.75 AS DOUBLE) * dl.dl
         |          / (CAST(c.sdl AS DOUBLE) / CAST(c.n AS DOUBLE)))) AS part
         | FROM ft JOIN gl USING (term) JOIN dl ON dl.doc_id = ft.doc_id
         | CROSS JOIN c),
        |sc AS (SELECT doc_id,
        |         list_reduce(list_transform(list_sort(
        |           list({'t': term, 'c': part})), x -> x.c),
        |           (a, b) -> a + b) AS score
        |       FROM part GROUP BY 1)
        |SELECT doc_id, score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // qtx15: bigram-LM score replayed — integer counts + V, the
    // ExactMath polynomial ln on numerator/denominator separately,
    // position-ordered fold, one division
    QuerySpec("qtx15_lm_score", DataOps.qtx15LmScore,
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |pr AS (SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
         |         ws[r.i + 1] AS w1, ws[r.i + 2] AS w2
         |       FROM t JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 2
         |       WHERE len(ws) >= 2),
         |tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |c1 AS (SELECT w AS w1, COUNT(*) AS c1 FROM tok GROUP BY 1),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pr GROUP BY 1, 2),
         |vv AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
         |j AS (SELECT pr.doc_id, pr.pos, c2.c2 + 1 AS na,
         |        c1.c1 + (SELECT v FROM vv) AS nb
         |      FROM pr JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
         |ja AS (SELECT *, ${ExactMath.blSql("na")} AS bla,
         |         ${ExactMath.blSql("nb")} AS blb FROM j),
         |jm AS (SELECT *, ${ExactMath.mSql("na", "bla")} AS ma,
         |         ${ExactMath.mSql("nb", "blb")} AS mb FROM ja),
         |jz AS (SELECT *, ${ExactMath.zSql("ma")} AS za,
         |         ${ExactMath.zSql("mb")} AS zb FROM jm),
         |j2 AS (SELECT *, za * za AS za2, zb * zb AS zb2 FROM jz),
         |jl AS (SELECT doc_id, pos,
         |        ${ExactMath.lnFromPartsSql("bla", "za", "za2")}
         |        - ${ExactMath.lnFromPartsSql("blb", "zb", "zb2")} AS logp
         |       FROM j2),
         |s AS (SELECT doc_id, COUNT(*) AS n_pairs,
         |        list_reduce(list_transform(list_sort(
         |          list({'p': pos, 'c': logp})), x -> x.c),
         |          (a, b) -> a + b) AS sm
         |      FROM jl GROUP BY 1)
         |SELECT doc_id, n_pairs, sm / n_pairs AS lm_score FROM s
         |ORDER BY doc_id""".stripMargin),
    // qtx16: skip-gram PPMI replayed — exact-position pair join,
    // integer count products through the ExactMath polynomial ln
    QuerySpec("qtx16_skipgram_ppmi", DataOps.qtx16SkipgramPpmi,
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |pr AS (SELECT doc_id, CAST(r.i AS BIGINT) AS p, ws[r.i + 1] AS w
         |       FROM t JOIN range(0, 100000) r(i) ON r.i < len(ws)),
         |pairs AS (SELECT a.w AS center, b.w AS context
         |          FROM pr a JOIN pr b ON a.doc_id = b.doc_id
         |           AND b.p BETWEEN a.p - 2 AND a.p + 2 AND b.p <> a.p),
         |pc AS (SELECT center, context, COUNT(*) AS n_pair FROM pairs
         |       GROUP BY 1, 2),
         |tt AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS t FROM pc),
         |cc AS (SELECT center, CAST(SUM(n_pair) AS BIGINT) AS c_center
         |       FROM pc GROUP BY 1),
         |cx AS (SELECT context, CAST(SUM(n_pair) AS BIGINT) AS c_context
         |       FROM pc GROUP BY 1),
         |j AS (SELECT pc.center, pc.context, pc.n_pair,
         |        pc.n_pair * (SELECT t FROM tt) AS na,
         |        c_center * c_context AS nb
         |      FROM pc JOIN cc USING (center) JOIN cx USING (context)),
         |ja AS (SELECT *, ${ExactMath.blSql("na")} AS bla,
         |         ${ExactMath.blSql("nb")} AS blb FROM j),
         |jm AS (SELECT *, ${ExactMath.mSql("na", "bla")} AS ma,
         |         ${ExactMath.mSql("nb", "blb")} AS mb FROM ja),
         |jz AS (SELECT *, ${ExactMath.zSql("ma")} AS za,
         |         ${ExactMath.zSql("mb")} AS zb FROM jm),
         |j2 AS (SELECT *, za * za AS za2, zb * zb AS zb2 FROM jz),
         |jl AS (SELECT center, context, n_pair,
         |        ${ExactMath.lnFromPartsSql("bla", "za", "za2")}
         |        - ${ExactMath.lnFromPartsSql("blb", "zb", "zb2")} AS ppmi
         |       FROM j2)
         |SELECT center, context, n_pair, ppmi FROM jl
         |WHERE ppmi > CAST(0.0 AS DOUBLE) ORDER BY center, context""".stripMargin),
    // qtx11: repetition signals — integer token/3-gram counts plus one
    // double division each; docs under 3 tokens get dup_ratio 0.0
    QuerySpec("qtx11_repetition", DataOps.qtx11Repetition,
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |top AS (SELECT doc_id, MAX(tf) AS top_tf,
        |         CAST(SUM(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
        |g AS (SELECT doc_id, array_to_string(ws[r.i + 1:r.i + 3], ' ') AS gram
        |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t
        |      JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 3
        |      WHERE len(ws) >= 3),
        |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |       CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_grams
        |      FROM gc GROUP BY 1)
        |SELECT t.doc_id, t.n_tokens, t.top_tf,
        | CAST(t.top_tf AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS top_ratio,
        | COALESCE(d.n_grams, 0) AS n_grams,
        | COALESCE(d.n_dup_grams, 0) AS n_dup_grams,
        | CASE WHEN COALESCE(d.n_grams, 0) > 0
        |      THEN CAST(d.n_dup_grams AS DOUBLE) / CAST(d.n_grams AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS dup_ratio
        |FROM top t LEFT JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin),
    // qtx12: inverted-index stats — positions are 1-based whitespace
    // ordinals (generate_subscripts zips with unnest); the posting
    // fingerprint is an ORDER-FREE sum of 32-bit md5 prefixes mod 2^62,
    // so both engines aggregate it without canonicalizing any list
    QuerySpec("qtx12_postings", DataOps.qtx12Postings,
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |  generate_subscripts(string_split(text, ' '), 1) AS pos
        | FROM documents)
        |SELECT term, COUNT(*) AS n_postings,
        | COUNT(DISTINCT doc_id) AS df,
        | CAST(SUM(CAST(concat('0x', substring(md5(concat(
        |   CAST(doc_id AS VARCHAR), ':', CAST(pos AS VARCHAR))), 1, 8))
        |   AS BIGINT)) % 4611686018427387904 AS BIGINT) AS postings_fp
        |FROM tok GROUP BY term ORDER BY term""".stripMargin),
    // qsk1: HLL registers — bucket = first md5 byte, rank = 1 + leading
    // zero bits of the next 60 bits, all via integer/string arithmetic
    // (zero-hex-digit count * 4 + a first-digit CASE); sketch STATE is
    // exact even though the estimate it feeds is approximate
    QuerySpec("qsk1_hll_registers", DataOps.qsk1HllRegisters,
      """WITH p AS (SELECT
        |  CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS bucket,
        |  ltrim(substring(h, 3, 15), '0') AS t
        | FROM (SELECT md5(CAST(doc_id AS VARCHAR)) AS h FROM documents) q)
        |SELECT bucket,
        | MAX(CAST(60 - length(t) * 4 +
        |  CASE substring(t, 1, 1)
        |   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |   WHEN '7' THEN 1 ELSE 0 END + 1 AS BIGINT)) AS max_rank,
        | COUNT(*) AS n_keys
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    // qtx10: the oracle recomputes both the planted messy URL and the
    // EXPECTED canonical form from doc_id arithmetic — the normalizer's
    // rules (fragment/case/port/utm/root-slash) are proved, not mirrored
    QuerySpec("qtx10_url_canon", DataOps.qtx10UrlCanon,
      """WITH d0 AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
        |m AS (SELECT d,
        |  CASE WHEN d % 2 = 0 THEN 'HTTP' ELSE 'https' END AS scheme_m,
        |  CASE WHEN d % 11 = 0 THEN 'UsEr@' ELSE '' END AS ui_m,
        |  'ExAmple' || CAST(d % 100 AS VARCHAR) || '.CoM' AS host_m,
        |  CASE WHEN d % 3 = 0 THEN (CASE WHEN d % 2 = 0 THEN ':80' ELSE ':443' END)
        |       WHEN d % 3 = 1 THEN ':8080' ELSE '' END AS port_m,
        |  CASE WHEN d % 7 = 0 THEN '' WHEN d % 7 = 1 THEN '/'
        |       ELSE '/P' || CAST(d AS VARCHAR) END AS path_m,
        |  CASE WHEN d % 4 = 0 THEN '?utm_source=x&id=' || CAST(d AS VARCHAR)
        |       WHEN d % 4 = 1 THEN '?utm_a=1&utm_b=2'
        |       WHEN d % 4 = 2 THEN '?id=' || CAST(d AS VARCHAR) ELSE '' END AS query_m,
        |  CASE WHEN d % 5 = 0 THEN '#Frag' ELSE '' END AS frag_m
        | FROM d0)
        |SELECT d AS doc_id,
        |  scheme_m || '://' || ui_m || host_m || port_m || path_m || query_m || frag_m AS raw_url,
        |  lower(scheme_m) || '://' || ui_m || 'example' || CAST(d % 100 AS VARCHAR) || '.com'
        |    || (CASE WHEN d % 3 = 1 THEN ':8080' ELSE '' END)
        |    || (CASE WHEN d % 7 IN (0, 1) THEN '' ELSE '/P' || CAST(d AS VARCHAR) END)
        |    || (CASE WHEN d % 4 IN (0, 2) THEN '?id=' || CAST(d AS VARCHAR) ELSE '' END)
        |  AS url
        |FROM m ORDER BY doc_id""".stripMargin),
    // 0x40000000 / 2^32 = 0.25: lexicographic hex compare, engine-portable
    QuerySpec("qsp1_hash_sample", DataOps.qsp1HashSample,
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("qsp2_stratified", DataOps.qsp2Stratified,
      """SELECT lang, doc_id, sample_rank FROM (
        | SELECT lang, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) AS sample_rank
        | FROM documents) t
        |WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin),
    // qsp3: per-stratum rate sampling — per-lang md5 thresholds
    // (floor(rate·2³²) as 8 hex digits; rate 1.0 keeps everything);
    // langs outside the mix spec are dropped (allowlist semantics)
    QuerySpec("qsp3_mix_rates", DataOps.qsp3MixRates,
      """SELECT doc_id, lang FROM documents
        |WHERE (lang = 'en' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
        |   OR (lang = 'de' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000')
        |   OR lang = 'es'
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("qann1_topk", DataOps.qann1TopK,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        list_cosine_similarity(q.v, c.v) AS cos
        |      FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 20),
        |r AS (SELECT query_id, neighbor_id,
        |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // qann9: filtered search — the label predicate joins BEFORE ranking
    QuerySpec("qann9_filtered_topk", DataOps.qann9FilteredTopK,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |           FROM embeddings),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        c.label, list_cosine_similarity(q.v, c.v) AS cos
        |      FROM e q JOIN e c
        |        ON c.vec_id <> q.vec_id AND c.label = q.label
        |      WHERE q.vec_id < 20),
        |r AS (SELECT query_id, neighbor_id, label,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, neighbor_id, label FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    QuerySpec("qann2_pairs_above", DataOps.qann2PairsAbove,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.42
        |ORDER BY vec_a, vec_b""".stripMargin),
    // The LSH structure is integer-LCG-derived (Knn.planeComp), so DuckDB
    // rebuilds planes, sign sketches and buckets exactly; dot products and
    // cosines accumulate left-to-right in double in both engines
    // (list_dot_product / list_cosine_similarity ≡ fvec_dot — verified
    // empirically, 2000 trials bit-identical).
    QuerySpec("qann3_lsh_topk", DataOps.qann3LshTopK,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |            len(embedding) AS d FROM embeddings),
        |pl AS (
        |  SELECT t, p,
        |    list_transform(range(0, (SELECT MAX(d) FROM e)),
        |      i -> CAST((((t*1000003 + p*10007 + i*101 + 12345) * 48271 % 2147483647)
        |                 * 48271 % 2147483647) AS DOUBLE)
        |           / 2147483647.0 * 2.0 - 1.0) AS plane
        |  FROM range(0, 16) tt(t) CROSS JOIN range(0, 4) pp(p)),
        |b AS (
        |  SELECT e.vec_id, pl.t,
        |    SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
        |             THEN 1 << p ELSE 0 END) AS bucket
        |  FROM e CROSS JOIN pl GROUP BY 1, 2),
        |q AS (SELECT vec_id AS query_id, t, bucket FROM b WHERE vec_id < 20),
        |cand AS (
        |  SELECT DISTINCT q.query_id, b.vec_id FROM b JOIN q USING (t, bucket)
        |  WHERE b.vec_id <> q.query_id),
        |r AS (
        |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY cand.query_id
        |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, cand.vec_id) AS rank
        |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
        |            JOIN e ne ON ne.vec_id = cand.vec_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    QuerySpec("qann4_ivf_topk", DataOps.qann4IvfTopK,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 20 = 0),
        |ranked AS (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(c.cv, e.v) DESC, c.cid) AS rn
        |  FROM e CROSS JOIN cent c),
        |asgn AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cid FROM ranked
        |           WHERE vec_id < 20 AND rn <= 6),
        |cand AS (
        |  SELECT p.query_id, a.vec_id FROM probes p JOIN asgn a USING (cid)
        |  WHERE a.vec_id <> p.query_id),
        |r AS (
        |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY cand.query_id
        |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, cand.vec_id) AS rank
        |  FROM cand JOIN e q ON q.vec_id = cand.query_id
        |            JOIN e n ON n.vec_id = cand.vec_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // qann6: PQ codes — sampled sub-codebooks, squared-L2 in double with
    // ascending-index accumulation on both engines, ties to smallest code
    QuerySpec("qann6_pq_codes", DataOps.qann6PqCodes,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id % 25 = 0),
        |sp AS (SELECT i AS sub FROM range(0, 4) t(i)),
        |d AS (
        |  SELECT e.vec_id, sp.sub, cb.code,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])
        |         * (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])),
        |      (a, b) -> a + b) AS dist
        |  FROM e CROSS JOIN sp CROSS JOIN cb),
        |r AS (SELECT vec_id, sub, code, ROW_NUMBER() OVER (
        |        PARTITION BY vec_id, sub ORDER BY dist ASC, code) AS rn FROM d)
        |SELECT vec_id, CAST(sub AS BIGINT) AS sub, code FROM r WHERE rn = 1
        |ORDER BY vec_id, sub""".stripMargin),
    // qann7: ADC top-k — the qann6 code/distance CTEs reused; candidate
    // distance = subspace-ordered fold of the m table lookups
    QuerySpec("qann7_adc_topk", DataOps.qann7AdcTopK,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id % 25 = 0),
        |sp AS (SELECT i AS sub FROM range(0, 4) t(i)),
        |d AS (
        |  SELECT e.vec_id, sp.sub, cb.code,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])
        |         * (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])),
        |      (a, b) -> a + b) AS dist
        |  FROM e CROSS JOIN sp CROSS JOIN cb),
        |codes AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, sub ORDER BY dist ASC, code) AS rn FROM d) z
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id AS query_id, sub, code, dist FROM d
        |       WHERE vec_id < 20),
        |parts AS (SELECT qd.query_id, c.vec_id, c.sub, qd.dist AS pd
        |          FROM codes c JOIN qd ON qd.sub = c.sub AND qd.code = c.code
        |          WHERE c.vec_id <> qd.query_id),
        |adc AS (SELECT query_id, vec_id,
        |         list_reduce(list_transform(list_sort(list({'s': sub, 'c': pd})),
        |           x -> x.c), (a, b) -> a + b) AS adc
        |        FROM parts GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id AS neighbor_id,
        |       ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY adc ASC, vec_id) AS rank FROM adc)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // qann8: IVF-PQ — qann4's cell/probe CTEs feeding qann7's ADC CTEs
    QuerySpec("qann8_ivfpq", DataOps.qann8IvfPq,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 20 = 0),
        |ranked AS (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(c.cv, e.v) DESC, c.cid) AS rn
        |  FROM e CROSS JOIN cent c),
        |asgn AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cid FROM ranked
        |           WHERE vec_id < 20 AND rn <= 6),
        |cand AS (
        |  SELECT p.query_id, a.vec_id FROM probes p JOIN asgn a USING (cid)
        |  WHERE a.vec_id <> p.query_id),
        |cb AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id % 25 = 0),
        |sp AS (SELECT i AS sub FROM range(0, 4) t(i)),
        |d AS (
        |  SELECT e.vec_id, sp.sub, cb.code,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])
        |         * (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])),
        |      (a, b) -> a + b) AS dist
        |  FROM e CROSS JOIN sp CROSS JOIN cb),
        |codes AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, sub ORDER BY dist ASC, code) AS rn FROM d) z
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id AS query_id, sub, code, dist FROM d
        |       WHERE vec_id < 20),
        |parts AS (SELECT cand.query_id, cand.vec_id, c.sub, qd.dist AS pd
        |          FROM cand JOIN codes c ON c.vec_id = cand.vec_id
        |          JOIN qd ON qd.query_id = cand.query_id
        |           AND qd.sub = c.sub AND qd.code = c.code),
        |adc AS (SELECT query_id, vec_id,
        |         list_reduce(list_transform(list_sort(list({'s': sub, 'c': pd})),
        |           x -> x.c), (a, b) -> a + b) AS adc
        |        FROM parts GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id AS neighbor_id,
        |       ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY adc ASC, vec_id) AS rank FROM adc)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    QuerySpec("qann5_embed_clusters", DataOps.qann5EmbedClusters,
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pairs AS (SELECT a.vec_id AS pa, b.vec_id AS pb
        |          FROM e a JOIN e b ON a.vec_id < b.vec_id
        |          WHERE list_cosine_similarity(a.v, b.v) >= 0.42),
        |edges AS (SELECT pa AS u, pb AS w FROM pairs
        |          UNION SELECT pb, pa FROM pairs),
        |lbl(n, l) AS (
        |  SELECT vec_id, vec_id FROM e
        |  UNION
        |  SELECT eg.w, lbl.l FROM lbl JOIN edges eg ON eg.u = lbl.n)
        |SELECT n AS vec_id, MIN(l) AS canonical FROM lbl
        |GROUP BY n ORDER BY vec_id""".stripMargin),
    // multimodal stub decode: payload = the document's UTF-8 bytes, so
    // every derived metadata value (length, md5, fake dims) is exact SQL
    QuerySpec("qmm1_media_meta", DataOps.qmm1MediaMeta,
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS content_hash,
        | CAST(160 + octet_length(encode(text)) % 480 AS INT) AS fake_width,
        | CAST(90 + (octet_length(encode(text)) // 7) % 270 AS INT) AS fake_height,
        | CAST(1 + octet_length(encode(text)) % 24 AS INT) AS fake_frames
        |FROM documents ORDER BY url""".stripMargin),
    // qmm5: perceptual image near-dup — every dHash recomputed from the
    // pixel FORMULA (9×8 nearest-neighbor grid, adjacent-sample
    // comparisons, bit 63 via the signed min-long addend), banded 4×16
    // self-join, hamming via bit_count(xor). The Spark side decodes
    // real PNG bytes; any defilter/zlib/luma drift mismatches here.
    QuerySpec("qmm5_image_neardup", DataOps.qmm5ImageNearDup,
      s"""$imgPairsCte
        |SELECT a_id, b_id, CAST(bit_count(xor(ah, bh)) AS BIGINT) AS hamming
        |FROM pairs WHERE bit_count(xor(ah, bh)) <= 6
        |ORDER BY a_id, b_id""".stripMargin),
    // qmm6: image dedup clusters — connected components over the qmm5
    // pair graph (recursive min-label closure, the qdd3 pattern),
    // singletons mapping to themselves, min-id representative
    QuerySpec("qmm6_image_clusters", DataOps.qmm6ImageClusters,
      s"""${imgPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
        |npairs AS (SELECT a_id AS doc_a, b_id AS doc_b FROM pairs
        |           WHERE bit_count(xor(ah, bh)) <= 6),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM npairs
        |          UNION SELECT doc_b, doc_a FROM npairs),
        |lbl(n, l) AS (
        |  SELECT id, id FROM ids
        |  UNION
        |  SELECT e.v, lbl.l FROM lbl JOIN edges e ON e.u = lbl.n),
        |cl AS (SELECT n AS doc_id, MIN(l) AS canonical FROM lbl GROUP BY n),
        |sz AS (SELECT canonical, COUNT(*) AS n_imgs FROM cl
        |       GROUP BY canonical)
        |SELECT cl.doc_id, cl.canonical, CAST(sz.n_imgs AS BIGINT) AS n_imgs,
        |  CAST(CASE WHEN cl.doc_id = cl.canonical THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_rep
        |FROM cl JOIN sz USING (canonical) ORDER BY doc_id""".stripMargin),
    // qmm4: the sniffing dispatcher — expected kind/format/meta per
    // doc_id%3 branch, recomputed arithmetically (image dims, wav
    // rate/duration, raw byte length)
    QuerySpec("qmm4_media_dispatch", DataOps.qmm4MediaDispatch,
      """SELECT 'mixed://' || CAST(doc_id AS VARCHAR) AS url,
        | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'unknown' END AS kind,
        | CASE doc_id % 3
        |  WHEN 0 THEN (CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |               WHEN 2 THEN 'bmp' ELSE 'jpeg' END)
        |  WHEN 1 THEN 'wav' ELSE 'unknown' END AS format,
        | CAST(CASE doc_id % 3
        |  WHEN 0 THEN 100 + doc_id % 900
        |  WHEN 1 THEN 8000 * (1 + doc_id % 5)
        |  ELSE octet_length(encode(text)) END AS BIGINT) AS meta_a,
        | CAST(CASE doc_id % 3
        |  WHEN 0 THEN 50 + doc_id % 500
        |  WHEN 1 THEN ((100 + doc_id % 900) * ((1 + doc_id % 2) * (1 + doc_id % 3))
        |    * CAST(1000000 AS BIGINT))
        |    // (8000 * (1 + doc_id % 5) * ((1 + doc_id % 2) * (1 + doc_id % 3)))
        |  ELSE 0 END AS BIGINT) AS meta_b
        |FROM documents ORDER BY url""".stripMargin),
    // qmm3: the Spark side PARSES real RIFF/WAV chunk headers; the
    // oracle recomputes every planted field from doc_id arithmetic
    // (duration = dataBytes·10⁶ div byteRate — the align factor cancels
    // exactly, so the spelled-out division equals n_samples·10⁶ div rate)
    QuerySpec("qmm3_wav_meta", DataOps.qmm3WavMeta,
      """SELECT 'wav://' || CAST(doc_id AS VARCHAR) AS url, 'wav' AS format,
        | CAST(1 + doc_id % 2 AS INT) AS channels,
        | CAST(8000 * (1 + doc_id % 5) AS INT) AS sample_rate,
        | CAST(8 * (1 + doc_id % 3) AS INT) AS bits_per_sample,
        | CAST(100 + doc_id % 900 AS BIGINT) AS n_samples,
        | CAST(((100 + doc_id % 900) * ((1 + doc_id % 2) * (1 + doc_id % 3))
        |   * CAST(1000000 AS BIGINT))
        |   // (8000 * (1 + doc_id % 5) * ((1 + doc_id % 2) * (1 + doc_id % 3)))
        |   AS BIGINT) AS duration_us
        |FROM documents ORDER BY url""".stripMargin),
    // qmm2: the Spark side PARSES real PNG/GIF/BMP/JPEG header bytes; the
    // oracle recomputes the planted dimensions from doc_id arithmetic.
    QuerySpec("qmm2_image_dims", DataOps.qmm2ImageDims,
      """SELECT 'img://' || CAST(doc_id AS VARCHAR) AS url,
        | CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |      WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
        | CAST(100 + doc_id % 900 AS INT) AS width,
        | CAST(50 + doc_id % 500 AS INT) AS height
        |FROM documents ORDER BY url""".stripMargin),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.run).toMap

  val oracleSql: Map[String, String] =
    specs.map(s => s.name -> s.oracle).toMap

  /** qtx18 oracle: 3 unrolled BPE iterations. Each round recounts
    * adjacent symbol pairs (overlap-counting, frequency-weighted) over
    * the word-type table, selects the (count desc, pair asc) winner,
    * and replays the greedy leftmost merge via a list_reduce whose
    * string state is "result|pending" — the same (result, pending)
    * automaton as the Spark aggregate HOF, so runs of equal symbols
    * merge at identical offsets.
    */
  private def bpeOracle(iters: Int): String = {
    def fold(t: String) =
      s"""list_reduce(list_prepend('|', syms), (acc, s) -> CASE
         |   WHEN split_part(acc, '|', 2) = $t.a AND s = $t.b
         |     THEN split_part(acc, '|', 1) || ' ' || $t.a || $t.b || '|'
         |   WHEN split_part(acc, '|', 2) = ''
         |     THEN split_part(acc, '|', 1) || '|' || s
         |   ELSE split_part(acc, '|', 1) || ' ' ||
         |     split_part(acc, '|', 2) || '|' || s END)""".stripMargin
    def finalized(t: String) =
      s"""string_split(ltrim(split_part(${fold(t)}, '|', 1) ||
         |  CASE WHEN split_part(${fold(t)}, '|', 2) = '' THEN ''
         |       ELSE ' ' || split_part(${fold(t)}, '|', 2) END, ' '), ' ')""".stripMargin
    val sb = new StringBuilder(
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word
        |            FROM documents),
        |w0 AS (SELECT word, COUNT(*) AS freq, string_split(word, '') AS syms
        |       FROM tok WHERE length(word) > 0 GROUP BY word)""".stripMargin)
    for (k <- 1 to iters) {
      sb ++= s""",
        |p$k AS (SELECT syms[r.i+1] AS a, syms[r.i+2] AS b,
        |         CAST(SUM(freq) AS BIGINT) AS n
        |        FROM w${k - 1} JOIN range(0, 100000) r(i)
        |          ON r.i < len(syms) - 1
        |        GROUP BY 1, 2),
        |t$k AS (SELECT a, b, n FROM p$k ORDER BY n DESC, a, b LIMIT 1),
        |w$k AS (SELECT word, freq, ${finalized(s"t$k")} AS syms
        |        FROM w${k - 1} CROSS JOIN t$k),
        |v$k AS (SELECT COUNT(DISTINCT s) AS vocab
        |        FROM (SELECT unnest(syms) AS s FROM w$k))""".stripMargin
    }
    sb ++= (1 to iters).map(k =>
      s"""
         |SELECT CAST($k AS BIGINT) AS rank, t$k.a AS sym_a, t$k.b AS sym_b,
         | t$k.n AS n_pairs, v$k.vocab AS vocab_after FROM t$k, v$k"""
        .stripMargin).mkString("", "\nUNION ALL", "\nORDER BY rank")
    sb.toString
  }

  /** Shared oracle CTE: rebuild the dedup test corpus (originals +
    * perturbed copies + exact copies) in SQL.
    */
  private def dedupCorpusCte: String =
    """WITH RECURSIVE corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT d.doc_id + 100000,
      |   string_agg(CASE WHEN r.i % 17 = 0
      |     THEN 'zz' || CAST(d.doc_id + 100000 AS VARCHAR)
      |     ELSE d.ws[r.i + 1] END, ' ' ORDER BY r.i)
      | FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |       FROM documents WHERE doc_id % 5 = 0) d
      | JOIN range(0, 100000) r(i) ON r.i < len(d.ws)
      | GROUP BY d.doc_id
      | UNION ALL
      | SELECT doc_id + 200000, text FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Shared oracle CTE (qmm5/qmm6): every planted image's dHash
    * recomputed from the generative pixel formula — never the PNG
    * bytes — through the 9×8 nearest-neighbor grid, adjacent-sample
    * comparison bits (bit 63 via the signed min-long addend, since
    * 1<<63 overflows BIGINT), and the banded 4×16 candidate self-join.
    * Ends in `pairs(a_id, b_id, ah, bh)`; `ids(id)` stays visible for
    * the cluster closure.
    */
  private def imgPairsCte: String =
    """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |img AS (SELECT id,
      |    CASE WHEN id % 4 = 1 THEN id - 1 ELSE id END AS cid,
      |    (id % 4 = 1) AS pert FROM ids),
      |dims AS (SELECT id, cid, pert,
      |    CAST(24 + (cid % 5) * 3 AS BIGINT) AS w,
      |    CAST(16 + (cid % 7) * 2 AS BIGINT) AS h FROM img),
      |samp AS (
      |  SELECT t.id, t.y, t.x,
      |    (t.px * 7 + t.py * 13 + t.px * t.py * ((t.cid % 13) + 1)
      |     + t.cid * 31 + (t.cid // 256) * 7
      |     + CASE WHEN t.pert AND (t.px + t.py) % 7 = 0 THEN 1 ELSE 0 END)
      |    % 256 AS g
      |  FROM (SELECT d.id, d.cid, d.pert, gy.y, gx.x,
      |               (gx.x * d.w) // 9 AS px, (gy.y * d.h) // 8 AS py
      |        FROM dims d, range(0, 8) gy(y), range(0, 9) gx(x)) t),
      |bits AS (
      |  SELECT a.id, a.y * 8 + a.x AS idx,
      |         CASE WHEN b.g < a.g THEN 1 ELSE 0 END AS bit
      |  FROM samp a JOIN samp b ON a.id = b.id AND a.y = b.y
      |                         AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |hashes AS (
      |  SELECT id, CAST(SUM(CASE WHEN bit = 1 THEN
      |      CASE WHEN idx = 63 THEN -9223372036854775808
      |           ELSE (CAST(1 AS BIGINT) << CAST(idx AS INTEGER)) END
      |    ELSE 0 END) AS BIGINT) AS dhash
      |  FROM bits GROUP BY id),
      |bands AS (SELECT id, dhash, r.b AS band,
      |    (dhash >> CAST(16 * r.b AS INTEGER)) & 65535 AS bv
      |  FROM hashes, range(0, 4) r(b)),
      |pairs AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id,
      |    a.dhash AS ah, b.dhash AS bh
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id)""".stripMargin

  /** Shared oracle CTE: exact all-pairs Jaccard ≥ 1/2 over `corpus` via
    * inverted-index self-join with integer threshold arithmetic.
    */
  private def dedupPairsCte: String =
    """sh AS (
      | SELECT DISTINCT doc_id, c.ws[r.i+1] || ' ' || c.ws[r.i+2] || ' ' || c.ws[r.i+3] AS shingle
      | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus) c
      | JOIN range(0, 100000) r(i) ON r.i <= len(c.ws) - 3),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |inter AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n
      | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      | GROUP BY 1, 2),
      |pairs AS (
      | SELECT doc_a, doc_b FROM inter
      | JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      | WHERE 3 * n >= sa.sz + sb.sz)""".stripMargin
}
