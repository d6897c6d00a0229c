package graft

import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GraftFunctions._
import graft.operators._
import graft.sources.{FileManifest, Json, RefTables, Tables, ZOrder}
import graft.streaming.OrderEnrichmentJob

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Oracle-parity rules (SURVEY §5): aggregate doubles through
  * DECIMAL(18,2) (the data is 2-decimal, so decimal aggregation is
  * exact and engine-independent) and cast back to double at the edge;
  * timestamps leave as strings/dates; every output totally ordered
  * with NULLS FIRST spelled out in the SQL (DuckDB defaults differ).
  */
object SparkEntry {
  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)
  private val d2 = DecimalType(18, 2)
  /** exact 2-decimal sum, emitted as double */
  private def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(d2)).cast("double")
  private val FMT = "%Y-%m-%d %H:%M:%S.%g"

  /** Literal BM25 query set for x12 — mixes common terms with the rare
    * "dup" so idf weighting is actually exercised. */
  private val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("window", "agg", "stream"),
    3 -> Seq("dup", "scan"))
  private def bm25QueriesSqlValues: String =
    bm25Queries.flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")

  /** Literal phrase set for x18 — common 2-grams plus rare 3-grams
    * (single-doc at sf0.01) so phrase-df weighting and the contiguity
    * constraint are both exercised; q1 repeats a term so the
    * duplicate-slot path is covered. */
  private val phraseQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("table", "table"),
    2 -> Seq("fast", "key"),
    3 -> Seq("agg", "row", "scan"),
    4 -> Seq("big", "big"))
  private def phraseSlotsSqlValues: String =
    phraseQueries.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (t, off) => s"($q, $off, '$t')" }
    }.mkString(", ")
  private def phraseLensSqlValues: String =
    phraseQueries.map { case (q, ts) => s"($q, ${ts.length})" }.mkString(", ")

  /** Deterministic sparse hash-graph over lineitem for g1/g2: nodes
    * 0..4095, one directed edge per distinct (orderkey-bucket →
    * part/supp-hash-bucket) pair. Mirrored verbatim in the oracles. */
  private def graphEdges(lineitem: DataFrame): DataFrame =
    lineitem.select((col("l_orderkey") % 4096).as("src"),
      ((col("l_partkey") * 7 + col("l_suppkey")) % 4096).as("dst"))
  private val graphEdgesSql =
    "SELECT DISTINCT l_orderkey % 4096 AS src, " +
      "(l_partkey * 7 + l_suppkey) % 4096 AS dst FROM lineitem"
  /** g9's graph is 8× DENSER (512 nodes): SCC refinement's inner
    * min-propagation converges in O(block diameter) rounds, and the
    * dense derivation keeps that small at every SF — the loud caps
    * stay honest without an sf-dependent parameter. */
  private def sccEdges(lineitem: DataFrame): DataFrame =
    lineitem.select((col("l_orderkey") % 512).as("src"),
      ((col("l_partkey") * 7 + col("l_suppkey")) % 512).as("dst"))
  private val sccEdgesSql =
    "SELECT DISTINCT l_orderkey % 512 AS src, " +
      "(l_partkey * 7 + l_suppkey) % 512 AS dst FROM lineitem"
  /** g3's graph spreads over 16× more nodes: triangle counting's
    * wedge work is Θ(Σ deg²) — the realistic regime is sparse (social
    * graphs: avg degree ~10²  on n≫deg nodes), and the 4096-node
    * density at bench scale (~300 avg degree) measures multigraph
    * saturation, not the operator. */
  private def triangleEdges(lineitem: DataFrame): DataFrame =
    lineitem.select((col("l_orderkey") % 16384).as("src"),
      ((col("l_partkey") * 7 + col("l_suppkey")) % 16384).as("dst"))
  private val triangleEdgesSql =
    "SELECT DISTINCT l_orderkey % 16384 AS src, " +
      "(l_partkey * 7 + l_suppkey) % 16384 AS dst FROM lineitem"
  /** g6's weighted edges: same sparse topology, integer weights 1..7
    * from the line number (parallel edges min-collapse in both
    * engines). */
  private def weightedEdges(lineitem: DataFrame): DataFrame =
    lineitem.select((col("l_orderkey") % 16384).as("src"),
      ((col("l_partkey") * 7 + col("l_suppkey")) % 16384).as("dst"),
      (col("l_linenumber") % 7 + 1).as("w"))
  private val weightedEdgesSql =
    "SELECT l_orderkey % 16384 AS src, " +
      "(l_partkey * 7 + l_suppkey) % 16384 AS dst, " +
      "l_linenumber % 7 + 1 AS w FROM lineitem"

  /** Stable scratch dir per (query, input): repeated bench/verify runs
    * overwrite ONE tree per query and scale factor instead of
    * accumulating abandoned temp layouts until the disk fills. */
  private def layoutDir(name: String, dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$name:$dir".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft-layout-$h")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Recursively clear a scratch catalog root so create-once state
    * (refs, tags) stays idempotent across repeated entry runs — the
    * bench runs every query three times against the SAME stable
    * layout dir. */
  private def freshDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  // ONE materialized vector index per corpus, ALL tiers in one layout
  // (full-width cells + SQ8 codes + residual-PQ codes + the label
  // metadata column) — the production story: an index is built once
  // and every serving tier reads the same cell files; parquet is
  // columnar, so each tier scans only its own columns. s16/s17/s21/
  // s22/d16 serve from this shared build (the assignment chain is
  // byte-identical to a single-tier build — extra columns never change
  // an answer, so every oracle is unchanged); s20 builds its own copy
  // because it DELETES from the layout. Memoized per (corpus dir) per
  // JVM: the first entry to run pays the build, the rest read.
  private val sharedIdxMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val sharedKnngMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val sharedGramMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val sharedDelIdxMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val sharedTextIdxMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** q33's oracle: the same recursion with the edge derivation
    * inlined (the engine pre-materializes it as a view — an
    * engine-side courtesy, not a semantics change). Depth-bounded
    * to 2 hops: UNION ALL recursion enumerates WALKS, so the row count
    * grows ~degree^depth — the honest reason the iterative operators
    * (g1's frontier loop: distinct per round, checkpointed) are the
    * 100 TB path and the planner's recursion is a SQL-surface feature
    * for bounded expansions (Spark additionally enforces
    * spark.sql.cteRecursionRowLimit, raised in the entry so the
    * depth bound, not the safety valve, defines the result). */
  private val recursiveReachSql: String =
    """WITH RECURSIVE e AS (SELECT DISTINCT
      |    l_orderkey % 4096 AS src,
      |    (l_partkey * 7 + l_suppkey) % 4096 AS dst FROM lineitem),
      |r(node, dist) AS (
      |  SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
      |  UNION ALL
      |  SELECT e.dst AS node, r.dist + 1 AS dist
      |  FROM r JOIN e ON e.src = r.node WHERE r.dist < 2)
      |SELECT node, CAST(min(dist) AS INT) AS dist
      |FROM r GROUP BY node ORDER BY node""".stripMargin

  /** Engine side of q33, depth-parameterized and STRUCTURALLY bounded.
    * UNION ALL recursion enumerates WALKS, so worst-case rows across
    * levels are Σ_{d≤depth} maxOutDeg^d; this derives the recursion
    * row limit from the graph's ACTUAL max out-degree (one tiny agg
    * over the already-checkpointed edges) instead of a hard-coded
    * valve, and REFUSES depths whose walk bound exceeds the 2^26 cap,
    * pointing the caller at [[graft.operators.Graph.bfs]] — the
    * frontier iteration (distinct per round, checkpointed lineage) is
    * the 100 TB traversal path; the planner's recursion is a
    * SQL-surface feature for provably bounded expansions. The
    * session's recursion-limit conf is saved and restored around the
    * run, and the (≤ |V|-row) result is materialized inside the scope
    * so the restore cannot affect execution. */
  private[graft] def recursiveReach(s: SparkSession, dir: String,
      depth: Int): DataFrame = {
    Tables.registerAll(s, dir)
    // the recursion re-reads the edge relation at EVERY level;
    // materialize the dedup once instead of re-distincting lineitem
    // per step (the same engine-side courtesy the Graph operators get
    // from their persisted edge relation — the oracle inlines the
    // derivation, results identical)
    val edges = graphEdges(T(s, dir, "lineitem")).distinct()
      .localCheckpoint(true)
    edges.createOrReplaceTempView("q33_edges")
    val maxDeg = math.max(1L, edges.groupBy("src").count()
      .agg(max(col("count"))).head.getLong(0))
    val walkBound = (0 to depth).map(d => BigInt(maxDeg).pow(d)).sum
    val cap = BigInt(1) << 26
    if (walkBound > cap)
      throw new IllegalArgumentException(
        s"recursive reachability at depth=$depth could enumerate up to " +
          s"$walkBound walks (max out-degree $maxDeg, walk cap $cap): " +
          "UNION ALL recursion enumerates walks, not frontiers — use " +
          "graft.operators.Graph.bfs (checkpointed frontier iteration) " +
          "for deep traversals")
    val key = "spark.sql.cteRecursionRowLimit"
    val prev = s.conf.getOption(key)
    s.conf.set(key, walkBound.toString)
    try {
      s.sql(
        s"""WITH RECURSIVE r(node, dist) AS (
           |  SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
           |  UNION ALL
           |  SELECT e.dst AS node, r.dist + 1 AS dist
           |  FROM r JOIN q33_edges e ON e.src = r.node WHERE r.dist < $depth)
           |SELECT node, CAST(min(dist) AS INT) AS dist
           |FROM r GROUP BY node ORDER BY node""".stripMargin)
        .localCheckpoint(true) // ≤ |V| rows; forces execution in-scope
    } finally {
      prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  private def sharedVectorIndex(s: SparkSession, dir: String): String =
    sharedIdxMemo.getOrElseUpdate(dir, {
      val emb = T(s, dir, "embeddings")
      val cap = math.ceil(emb.count() / 8.0).toLong
      val tmp = layoutDir("shared_idx", dir)
      graft.sources.VectorIndex.build(emb, "vec_id", "embedding", tmp,
        clusters = 8, iterations = 2, capacity = cap, maxRounds = 6,
        pqSubspaces = 16, pqCodewords = 64, metaCols = Seq("label"),
        sqTier = true, mipsTier = true, bqTier = true)
      tmp
    })

  /** The shared index's materialized NN-descent graph (k=8, 2
    * refinement rounds, id-bucket seed arm 8; partitioned by the
    * source's cell) — built once per (dir, JVM) on top of
    * [[sharedVectorIndex]]; s30 reads it back, s31 serves halo
    * expansion from it. */
  private def sharedKnnGraph(s: SparkSession, dir: String): String =
    sharedKnngMemo.getOrElseUpdate(dir, {
      val idx = sharedVectorIndex(s, dir)
      graft.sources.VectorIndex.buildKnnGraph(s, idx, k = 8, rounds = 2,
        idBuckets = 8)
      idx
    })

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("ref_interval_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 reference surface -------------------------------------
    "ref_json_ingest" -> ((s, dir) => {
      val parsed = Json.parse(Json.toJsonLines(RefTables.orders(T(s, dir, "events"))),
        Json.orderSchema)
      parsed.groupBy("currency")
        .agg(count(lit(1)).as("n_orders"), sum("amount").as("total_amount"))
        .orderBy("currency")
    }),
    "ref_interval_join" -> ((s, dir) => {
      val e = T(s, dir, "events")
      OrderEnrichmentJob.enrich(RefTables.orders(e), RefTables.rates(e), Duration.ofHours(6))
        .orderBy(col("id").asc, col("rate_time").asc_nulls_first)
    }),
    "ref_asof_join" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val o = RefTables.orders(e)
      val r = RefTables.rates(e)
      AsOfJoin.backward(o, r, "currency", "orderTime", "exchangeRateTime",
          Seq("rate", "exchangeRateTime"))
        .select(col("id"),
          col("amount").as("original_amount"),
          col("rate"),
          (col("amount") * col("rate")).as("converted_amount"),
          timestamp_to_string(col("exchangeRateTime")).as("rate_time"))
        .orderBy("id")
    }),
    // pandas merge_asof's other two directions, completing the family:
    // FORWARD (earliest rate at-or-after the order) and NEAREST
    // (whichever side lies closer; ties resolve backward)
    "ref_asof_forward" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val o = RefTables.orders(e)
      val r = RefTables.rates(e)
      AsOfJoin.forward(o, r, "currency", "orderTime", "exchangeRateTime",
          Seq("rate", "exchangeRateTime"))
        .select(col("id"),
          col("amount").as("original_amount"),
          col("rate"),
          (col("amount") * col("rate")).as("converted_amount"),
          timestamp_to_string(col("exchangeRateTime")).as("rate_time"))
        .orderBy("id")
    }),
    "ref_asof_nearest" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val o = RefTables.orders(e)
      val r = RefTables.rates(e)
      AsOfJoin.nearest(o, r, "currency", "id", "orderTime",
          "exchangeRateTime", Seq("rate", "exchangeRateTime"))
        .select(col("id"),
          col("amount").as("original_amount"),
          col("rate"),
          (col("amount") * col("rate")).as("converted_amount"),
          timestamp_to_string(col("exchangeRateTime")).as("rate_time"))
        .orderBy("id")
    }),
    // same semantics as ref_asof_join but through graft's custom
    // whole-operator path (AsOfJoinPlan -> AsOfJoinStrategy ->
    // AsOfMergeJoinExec) -- checked against the same DuckDB oracle
    "ref_asof_merge" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val o = RefTables.orders(e)
      val r = RefTables.rates(e).withColumnRenamed("currency", "r_currency")
      AsOfJoin.merge(o, r, "currency", "r_currency", "orderTime", "exchangeRateTime")
        .select(col("id"),
          col("amount").as("original_amount"),
          col("rate"),
          (col("amount") * col("rate")).as("converted_amount"),
          timestamp_to_string(col("exchangeRateTime")).as("rate_time"))
        .orderBy("id")
    }),
    "ref_timestamp_to_string" -> ((s, dir) =>
      T(s, dir, "events")
        .select(col("event_id"), timestamp_to_string(col("ts")).as("ts_str"))
        .orderBy("event_id")),
    "ref_json_sink" -> ((s, dir) =>
      Json.toJsonLines(RefTables.orders(T(s, dir, "events"))
          .select("id", "amount", "currency"))
        .orderBy("value")),
    "ref_streaming_pipeline" -> ((s, dir) => {
      val e = T(s, dir, "events")
      OrderEnrichmentJob.enrich(RefTables.orders(e), RefTables.rates(e),
          Duration.ofHours(6))
        .orderBy(col("id").asc, col("rate_time").asc_nulls_first)
    }),

    // ---- §2.2 relational core ---------------------------------------
    "q1_agg" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(d2) * (lit(1).cast(d2) - col("l_discount").cast(d2)))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q2_filter_project" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")),
    "q3_join_broadcast" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("n_name")
    }),
    "q6_outer_join" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(col("o_totalprice")).as("spent"))
        .orderBy("c_custkey")
    }),

    "q4_multijoin_star" -> ((s, dir) => {
      val o = T(s, dir, "orders"); val c = T(s, dir, "customer")
      val n = T(s, dir, "nation"); val r = T(s, dir, "region")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("r_name", "n_name")
    }),
    "q5_semi_anti" -> ((s, dir) => {
      val c = T(s, dir, "customer"); val o = T(s, dir, "orders")
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_orders"))
      val noO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("without_orders"))
      withO.unionByName(noO).select("kind", "n").orderBy("kind")
    }),
    "q7_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      T(s, dir, "orders")
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
        .select(col("o_orderpriority"), col("rank"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderpriority", "rank")
    }),
    "q8_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      T(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice"),
          sum(col("o_totalprice").cast(d2))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_spent"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    "q9_distinct_dedup" -> ((s, dir) =>
      T(s, dir, "events").select("user_id", "event_type").distinct()
        .orderBy("user_id", "event_type")),
    "q10_setops" -> ((s, dir) => {
      val c = T(s, dir, "customer"); val o = T(s, dir, "orders")
      val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val b = o.select(col("o_custkey").as("c_custkey")).distinct()
      a.intersect(b).withColumn("kind", lit("both"))
        .unionByName(a.except(b).withColumn("kind", lit("building_only")))
        .unionByName(b.except(a).withColumn("kind", lit("orders_only")))
        .select("kind", "c_custkey").orderBy("kind", "c_custkey")
    }),
    "q11_sort_limit" -> ((s, dir) =>
      T(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(50)
        .select("o_orderkey", "o_totalprice")),
    "q12_scalar_funcs" -> ((s, dir) =>
      T(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 10).as("name10"),
        // long, not int: DuckDB length() is BIGINT and the driver's
        // hash is pandas-dtype-sensitive (the r10 dtype-audit rule)
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        floor(col("p_retailprice")).as("price_floor"),
        when(col("p_size") < 10, "S").when(col("p_size") < 30, "M")
          .otherwise("L").as("size_class"),
        abs(col("p_size") - 25).as("size_dist"))
        .orderBy("p_partkey")),
    "q13_json_props" -> ((s, dir) =>
      T(s, dir, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")),
    // malformed-record tolerance, the first thing a real JSON stream
    // hits: PERMISSIVE from_json nulls the struct for corrupt rows
    // (planted deterministically) and the pipeline keeps flowing,
    // counting them instead of crashing
    "ref_json_corrupt" -> ((s, dir) => {
      val e = T(s, dir, "events").withColumn("raw",
        when(col("event_id") % 100 === 0, concat(lit("corrupt<"), col("props")))
          .otherwise(col("props")))
      e.withColumn("p", from_json(col("raw"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"),
          Map.empty[String, String]))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          // PERMISSIVE malformed rows surface as null FIELDS (the
          // struct itself stays non-null); props always carries k,
          // so a null k marks exactly the corrupt rows
          sum(when(col("p.k").isNull, 1).otherwise(0)).cast("long").as("n_corrupt"),
          sum(col("p.k")).as("sum_k"))
        .orderBy("event_type")
    }),
    // salted skew join: hot keys spread over (key, salt) reducers,
    // result identical to the plain join (the oracle IS the plain join)
    "q27_skew_join" -> ((s, dir) => {
      val c = T(s, dir, "customer"); val n = T(s, dir, "nation")
      SkewJoin.saltedJoin(c, n, "c_nationkey", "n_nationkey", salts = 8)
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("total_bal"))
        .orderBy("n_name")
    }),
    // MERGE INTO semantics (the warehouse upsert) as one full-outer
    // join: a derived CDC changeset (updates / deletes / inserts by
    // key residue) applied to the customer snapshot
    "q30_merge_upsert" -> ((s, dir) => {
      val cust = T(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
        .withColumn("__delete", lit(false))
      val deletes = cust.filter(col("c_custkey") % 10 === 1)
        .withColumn("__delete", lit(true))
      val inserts = cust.filter(col("c_custkey") % 10 === 2)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000L))
        .withColumn("__delete", lit(false))
      Dimensions.mergeUpsert(cust,
          updates.union(deletes).union(inserts), "c_custkey", "__delete")
        .orderBy("c_custkey")
    }),
    // SCD type-2 history from the event stream: consecutive duplicate
    // attribute values collapse; one shuffle, lag+lead share the sort
    "q28_scd2" -> ((s, dir) =>
      Dimensions.scd2(T(s, dir, "events"), "user_id", "event_type",
          "ts", "event_id")
        .orderBy("user_id", "valid_from_us", "attr")),
    "q14_grouping_sets" -> ((s, dir) => {
      val c = T(s, dir, "customer"); val n = T(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .rollup(col("c_mktsegment"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .select(coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
          coalesce(col("n_name"), lit("ALL")).as("nation"), col("n_cust"))
        .orderBy("seg", "nation")
    }),
    // full CUBE (every grouping-set combination), rollup's big sibling
    "q31_cube" -> ((s, dir) => {
      val c = T(s, dir, "customer"); val n = T(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .cube(col("c_mktsegment"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("bal"))
        .select(coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_cust"), col("bal"))
        .orderBy("seg", "nation")
    }),
    // GENERIC RANGE JOIN (point-in-interval, arbitrary per-row
    // lengths, NO equality key): Spark's own plan for a pure
    // inequality join is a BroadcastNestedLoopJoin — O(n x m) at any
    // scale. RangeJoin manufactures the missing equi-key by bucketing
    // the domain (intervals explode into overlapped buckets, points
    // hash to one, exact BETWEEN as residual) — a plain shuffle
    // equi-join; a pair meets in exactly one bucket so no dedup
    // PIVOT (r9, late): revenue cross-tab — one grouped scan, pivot
    // columns materialized as conditional aggregates (Catalyst
    // rewrites pivot to exactly the oracle's FILTER-agg shape; a
    // status absent from a priority yields NULL on both engines)
    "q34_pivot" -> ((s, dir) =>
      T(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .select(col("o_orderpriority"), col("F").as("rev_f"),
          col("O").as("rev_o"), col("P").as("rev_p"))
        .orderBy("o_orderpriority")),
    "q32_range_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("event_type"), (col("event_id") % 10000).as("p"))
      val iv = T(s, dir, "orders")
        .select((col("o_orderkey") % 10000).as("lo"), col("o_orderkey"))
        .withColumn("hi", col("lo") + col("o_orderkey") % 13)
      RangeJoin.pointInInterval(ev, iv, "p", "lo", "hi")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("o_orderkey")).as("sum_keys"),
          countDistinct(col("p")).as("n_points"))
        .orderBy("event_type")
    }),
    // sentence-aware chunking: split at sentence boundaries, pack
    // whole sentences under a token budget via the closed-form
    // prefix-sum assignment — the RAG splitter that never cuts
    // mid-sentence
    "x29_sentence_chunk" -> ((s, dir) =>
      CorpusOps.sentenceChunks(T(s, dir, "documents"), "doc_id", "text",
          budget = 120)
        .orderBy("doc_id", "chunk_id")),
    // ---- composite: the curation pipeline end to end ----------------
    // quality-filter → exact-dedup (keep min id per content hash) →
    // deterministic split → per-(split, lang) corpus report: the whole
    // LLM-data-curation chain as ONE declarative plan — Catalyst fuses
    // the metric computation, filter, and dedup window into the same
    // scan pipeline; the oracle replays every stage in one CTE chain
    "c1_curation_pipeline" -> ((s, dir) => {
      val scored = TextAnalysis.withQualityMetrics(
        T(s, dir, "documents"), "text")
      val kept = scored.where(col("quality_score") >= 0.5)
      val dedup = kept
        .withColumn("__keep",
          min("doc_id").over(Window.partitionBy(md5(col("text")))))
        .where(col("doc_id") === col("__keep"))
      CorpusOps.hashSplit(dedup, "doc_id")
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"))
        .orderBy("split", "lang")
    }),
    // the GOVERNED CORPUS lifecycle (r9): the curation chain's OUTPUT
    // becomes a TABLE — quality gate + exact dedup, then the curated
    // rows write through the graft datasource (clustered on doc_id,
    // partitioned by lang, one atomic catalog commit) and the release
    // report runs as plain SQL whose partition + range predicates
    // prune the scan before any file opens. The oracle replays the
    // curation chain and applies the same predicates directly — the
    // table is a read path, never a semantics change
    "c4_curated_table" -> ((s, dir) => {
      val tmp = layoutDir("c4", dir)
      val root = s"$tmp/cat"
      val scored = TextAnalysis.withQualityMetrics(
        T(s, dir, "documents"), "text")
      val kept = scored.where(col("quality_score") >= 0.5)
      val curated = kept
        .withColumn("__keep",
          min("doc_id").over(Window.partitionBy(md5(col("text")))))
        .where(col("doc_id") === col("__keep"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_tokens").cast("long").as("n_tokens"))
      curated.write.format("graft")
        .option("path", root).option("partitionBy", "lang")
        .option("clusterBy", "doc_id").option("files", "8")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS c4_corpus")
      s.sql(s"CREATE TABLE c4_corpus USING graft OPTIONS (path '$root')")
      s.sql("""SELECT lang, count(*) AS n_docs,
        |  sum(n_chars) AS sum_chars, sum(n_tokens) AS sum_tokens
        |FROM c4_corpus
        |WHERE doc_id BETWEEN 50 AND 400 AND lang <> 'zh'
        |GROUP BY lang ORDER BY lang""".stripMargin)
    }),
    // WRITE-AUDIT-PUBLISH (r9, late): the governed-ingest composition
    // — every batch stages as a catalog version on the `audit`
    // branch, the expectations audit (p3) runs THROUGH the branch
    // read, and publication is one atomic fast-forward of `main`;
    // the corrupted batch trips the audit, gets tagged for the
    // audit trail, and NEVER reaches main-branch readers. The final
    // answer is main's read — base + the one audited batch
    "c5_wap" -> ((s, dir) => {
      val tmp = layoutDir("c5", dir)
      val vroot = s"$tmp/cat"
      freshDir(s, vroot)
      val ev = T(s, dir, "events")
      def stage(df: DataFrame, sub: String): FileManifest.PartitionedManifest = {
        FileManifest.writePartitionedLayout(df, s"$tmp/$sub", "event_type",
          "user_id", numFiles = 6)
        FileManifest.buildPartitioned(s, s"$tmp/$sub", "user_id")
      }
      def branchRead(name: String): DataFrame =
        FileManifest.readPrunedPartitioned(s,
          FileManifest.loadRef(s, vroot, name), None, Long.MinValue,
          Long.MaxValue)
      val checks = Seq(Expectations.notNull("user_id"),
        Expectations.inRange("value", 0L, 1000000L),
        Expectations.inSet("event_type",
          Seq("view", "click", "purchase", "signup", "error")))
      def violations(df: DataFrame): Long =
        Expectations.audit(df, checks)
          .agg(sum("n_violations")).head.getLong(0)
      val base = stage(ev.where(col("event_type") =!= "purchase"), "base")
      val v0 = FileManifest.commitVersion(s, base, vroot)
      FileManifest.createBranch(s, vroot, "main", v0)
      FileManifest.createBranch(s, vroot, "audit", v0)
      // cycle 1: clean purchases — stage, adopt-by-move into the
      // table tree (the Iceberg add_files contract), audit, PUBLISH
      stage(ev.where(col("event_type") === "purchase"), "b1")
      val v1 = FileManifest.commitVersion(s,
        FileManifest.adoptBatch(s, base, s"$tmp/base", s"$tmp/b1"), vroot)
      FileManifest.advanceBranch(s, vroot, "audit", v1)
      require(violations(branchRead("audit")) == 0,
        "the clean batch must audit clean")
      FileManifest.fastForward(s, vroot, "main", "audit")
      // cycle 2: corrupted batch (impossible negative order values)
      // — audit trips, version tagged for the trail, main NEVER
      // advances
      val bad = ev.where(col("event_type") === "purchase")
        .withColumn("value", when(col("event_id") % 5 === 0,
          lit(-999.0)).otherwise(col("value")))
      stage(bad, "b2")
      val v2 = FileManifest.commitVersion(s,
        FileManifest.adoptBatch(s, FileManifest.loadRef(s, vroot, "main"),
          s"$tmp/base", s"$tmp/b2"), vroot)
      FileManifest.advanceBranch(s, vroot, "audit", v2)
      require(violations(branchRead("audit")) > 0,
        "the corrupted batch must trip the audit")
      FileManifest.createTag(s, vroot, "rejected-b2", v2)
      require(FileManifest.resolveRef(s, vroot, "main") == v1,
        "unaudited data must never reach main")
      branchRead("main")
        .where(col("user_id").between(3, 130) &&
          col("event_type") =!= "click")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // GOVERNED STREAM-STATIC ENRICHMENT (r9, late): the reference's
    // enrichment join with the dimension read THROUGH a branch of the
    // governed table — the batch path here is byte-shared with the
    // per-micro-batch closure (GovernedEnrich.enrichBatch), so the
    // continuous form (spec'd: a fastForward publish becomes visible
    // to the next micro-batch) cannot drift from this oracle-checked
    // relation
    "c6_governed_enrich" -> ((s, dir) => {
      val tmp = layoutDir("c6", dir)
      val vroot = s"$tmp/cat"
      freshDir(s, vroot)
      val dim = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      FileManifest.writePartitionedLayout(dim, s"$tmp/dim",
        "c_mktsegment", "c_custkey", numFiles = 6)
      val v0 = FileManifest.commitVersion(s,
        FileManifest.buildPartitioned(s, s"$tmp/dim", "c_custkey"), vroot)
      FileManifest.createBranch(s, vroot, "serving", v0)
      val facts = T(s, dir, "events")
        .where(col("event_type") === "purchase")
      graft.streaming.GovernedEnrich.enrichBatch(s, facts, vroot,
          "serving", "user_id", "c_custkey", Seq("c_mktsegment"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("c_mktsegment")
    }),
    // the DATASET CARD: per-source corpus summary (volume, exact-dup
    // rate, language mix, quality pass rate, token mass) in ONE scan
    // + one aggregation — the report a data release ships with
    "x30_dataset_card" -> ((s, dir) =>
      TextAnalysis.withQualityMetrics(T(s, dir, "documents"), "text")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          countDistinct(md5(col("text"))).as("n_unique_texts"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(when(col("quality_score") >= 0.5, 1L).otherwise(0L))
            .as("n_quality_pass"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"))
        .orderBy("source")),
    // POINT-IN-TIME feature join — the feature-store training join
    // that prevents leakage: each fact (purchase) is enriched with
    // the dimension version valid AT ITS OWN TIME, never a later one.
    // Composes q28's SCD2 history with the as-of join: "latest
    // version at-or-before the fact" IS the validity interval the
    // fact falls in (valid_to = next valid_from by construction)
    "c2_pit_features" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      // the dim tracks the user's last NON-purchase behavior; facts
      // are the purchases — "what was the user doing when they
      // bought" without ever reading a version from the future
      val dim = Dimensions.scd2(ev.filter(col("event_type") =!= "purchase"),
          "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"),
          timestamp_micros(col("valid_from_us")).as("vts"), col("attr"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsOfJoin.backward(facts, dim, "user_id", "ts", "vts", Seq("attr"))
        .groupBy("attr")
        .agg(count(lit(1)).as("n_facts"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("attr").asc_nulls_first)
    }),
    // ---- iterative graph algorithms ---------------------------------
    // a deterministic sparse hash-graph over lineitem (~n_lineitem
    // distinct edges on 4096 nodes) — structure enough for multi-hop
    // frontiers without being a clique
    "g1_bfs" -> ((s, dir) =>
      Graph.bfsDistances(graphEdges(T(s, dir, "lineitem")), "src", "dst",
          sources = Seq(0L), maxDepth = 4)
        .orderBy("node")),
    // SAMPLED HARMONIC CENTRALITY (r9, late): Σ 1/d over a fixed
    // 8-root sample (the Eppstein-Wang estimator — exact all-pairs is
    // Θ(V·E)); per-root BFS state keyed by (root, node) so ONE
    // per-round join carries all roots; exact ⌊10^6/d⌋ integers
    "g13_harmonic" -> ((s, dir) =>
      Graph.harmonicCentrality(graphEdges(T(s, dir, "lineitem")),
          "src", "dst", sources = (0L to 7L), maxDepth = 4)
        .orderBy("node")),
    // exact 64-bit fixed-point PageRank: partitioning-independent
    // integer arithmetic lets the oracle unroll all 4 rounds
    "g2_pagerank" -> ((s, dir) =>
      Graph.pageRank(graphEdges(T(s, dir, "lineitem")), "src", "dst",
          iterations = 4)
        .orderBy("node")),
    // PERSONALIZED PageRank: mass and teleport restricted to a seed
    // set — proximity-to-seeds ranking ("related items"), same exact
    // fixed-point arithmetic and unrolled oracle as g2
    "g4_ppr" -> ((s, dir) =>
      Graph.pageRank(graphEdges(T(s, dir, "lineitem")), "src", "dst",
          iterations = 4, sources = Seq(0L, 1L, 2L))
        .orderBy("node")),
    // per-node triangle counts via degree-ordered wedge closing; the
    // triangle set is orientation-independent, so the oracle verifies
    // with the simpler id-ordered enumeration
    "g3_triangles" -> ((s, dir) =>
      Graph.triangleCounts(triangleEdges(T(s, dir, "lineitem")), "src", "dst")
        .orderBy("node")),
    // DOULION sampled triangles (r10): p = 1/2 deterministic md5 edge
    // coin, count on the sparsified graph, unbiased 1/p³ = 8× scaled
    // estimate — the 100 TB path beside exact g3 (variance bound in
    // the Scaladoc); the oracle replays the coin and the enumeration
    "g14_triangle_sample" -> ((s, dir) =>
      Graph.triangleSample(triangleEdges(T(s, dir, "lineitem")),
          "src", "dst", num = 1, den = 2)
        .orderBy("node")),
    // DeepWalk random-walk corpus (r10): 2 walks × 4 steps from the
    // node-id < 256 cohort, successor = fresh md5 draw per (walk,
    // step) over the out-neighbors — the materialized skip-gram
    // training input; each step is one join against the cached
    // hash(src) edge layout, replayed step-for-step by the oracle
    "g15_random_walks" -> ((s, dir) =>
      Graph.randomWalks(graphEdges(T(s, dir, "lineitem")), "src", "dst",
          starts = 256L, walksPerNode = 2, length = 4)
        .orderBy("start", "walk", "step")),
    // node2vec biased walks (r11): the 2nd-order draw conditions on
    // the previous node — return discouraged (1), adjacency-of-prev
    // favored (4), venture-out neutral (2); exact integer weights via
    // copy expansion keep the draw float-free and oracle-replayable.
    // GraphSpec pins that equal weights degenerate to g15 bit-for-bit.
    "g18_node2vec_walks" -> ((s, dir) =>
      Graph.biasedWalks(graphEdges(T(s, dir, "lineitem")), "src", "dst",
          starts = 256L, walksPerNode = 2, length = 4,
          wReturn = 1, wCommon = 4, wFar = 2)
        .orderBy("start", "walk", "step")),
    // word2vec SKIP-GRAM PAIRS over the DeepWalk corpus (r11): the
    // training-data layout an embedding trainer consumes — window-2
    // (center, context) positives from the g15 walks plus 2
    // deterministic negatives per pair drawn from the corpus's own
    // unigram distribution (exact-integer cumulative table, md5-mod
    // draw, bucketed equi-join lookup — never an all-pairs range join)
    "g20_skipgram" -> ((s, dir) =>
      Graph.skipgramPairs(graphEdges(T(s, dir, "lineitem")), "src", "dst",
          starts = 256L, walksPerNode = 2, length = 4, window = 2,
          negatives = 2)
        .orderBy("start", "walk", "step", "cstep", "kind", "neg")),
    // INCREMENTAL PageRank (r10): ranks maintained across an edge
    // append — 4 cold rounds on the pre-append graph, then the edge
    // batch lands and TWO warm rounds re-converge from the prior
    // vector (new nodes start cold). The integer iteration composes
    // exactly (pageRank(e, a+b) == pageRank(e, b, init=pageRank(e, a)),
    // spec-pinned), so maintenance costs warm-rounds × one-shuffle
    // instead of the full cold ladder after every append
    "g17_pagerank_warm" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val oldRanks = Graph.pageRank(
        graphEdges(li.where(col("l_linenumber") <= 4)), "src", "dst",
        iterations = 4)
      Graph.pageRank(graphEdges(li), "src", "dst", iterations = 2,
          initRanks = Some(oldRanks))
        .orderBy("node")
    }),
    // GraphSAGE fanout sampling (r10): 2-hop sampled adjacency for
    // the seed cohort, ≤3 then ≤2 neighbors per expanded node via the
    // same deterministic per-(seed,hop,src) draw — bounded minibatch
    // neighborhoods however dense the graph
    "g16_neighbor_sample" -> ((s, dir) =>
      Graph.neighborSample(graphEdges(T(s, dir, "lineitem")), "src", "dst",
          seeds = 64L, fanouts = Seq(3, 2))
        .orderBy("seed", "hop", "src", "dst")),
    // weighted shortest paths: 4 Bellman-Ford relaxation rounds from
    // node 0 — exact integer costs, oracle-unrolled per round
    "g6_sssp" -> ((s, dir) =>
      Graph.ssspBounded(weightedEdges(T(s, dir, "lineitem")), "src", "dst",
          "w", sources = Seq(0L), rounds = 4)
        .orderBy("node")),
    // k-core membership after 3 bounded peeling rounds — output
    // DEFINED round-by-round so the oracle replays it exactly,
    // converged or not
    "g5_kcore" -> ((s, dir) =>
      Graph.kCore(triangleEdges(T(s, dir, "lineitem")), "src", "dst",
          k = 6, rounds = 3)
        .orderBy("node")),
    // MASS-CONSERVING PageRank on the sparse 16384-node graph (real
    // dangling nodes): each round one global aggregate sums the rank
    // on sink nodes and redistributes it uniformly — on sink-heavy
    // graphs the lite mode (g2) drifts low every round; here Σ rank
    // stays within floor-division units of N·10^6 (spec-asserted).
    // Still pure integer, still a full unrolled oracle.
    "g7_pagerank_conserve" -> ((s, dir) =>
      Graph.pageRank(triangleEdges(T(s, dir, "lineitem")), "src", "dst",
          iterations = 4, conserveDangling = true)
        .orderBy("node")),
    // deterministic label-propagation communities: most-frequent
    // neighbor label, ties to the smallest (vanilla LPA's random
    // tie-break replaced by the determinism discipline so the oracle
    // replays all rounds); per round one count agg + one struct-max
    // argmax, no window sort
    "g8_label_prop" -> ((s, dir) =>
      Graph.labelPropagation(triangleEdges(T(s, dir, "lineitem")),
          "src", "dst", rounds = 3)
        .orderBy("node")),
    // Louvain-style communities (r11): synchronous modularity-GAIN
    // label updates (exact ×2m²-scaled integer gains, ties to the
    // smallest label) under the parity gate that breaks synchronous
    // oscillation — the quality-driven rung above g8's frequency
    // voting; g12 scores the result
    "g19_louvain" -> ((s, dir) =>
      Graph.louvain(triangleEdges(T(s, dir, "lineitem")),
          "src", "dst", rounds = 4)
        .orderBy("node")),
    // MULTI-LEVEL LOUVAIN (r12): the coarsening recursion over g19 —
    // each level contracts communities into a weighted graph (one
    // groupBy on the mapped endpoint pair, internal edges folded into
    // self-loops) and re-runs the gated exact-integer local moves on
    // it, gains still scaled by the ORIGINAL graph's 2m; the final
    // assignment unfolds to original nodes. Level 1 IS g19 bit for
    // bit, modularity non-decreasing level over level (spec-pinned)
    "g21_louvain_multilevel" -> ((s, dir) =>
      Graph.louvainMultilevel(triangleEdges(T(s, dir, "lineitem")),
          "src", "dst", rounds = 2, levels = 2)
        .orderBy("node")),
    // STRONGLY CONNECTED COMPONENTS by FW-BW block refinement (r9):
    // within-block forward/backward min-propagation run TO A CHECKED
    // FIXED POINT under loud caps (a truncated min would silently
    // over-split true SCCs — distances differ where reach sets
    // don't), blocks split by the (mf, mb) pair. Runs on a denser
    // 512-node derivation so propagation depth stays small at every
    // SF; the spec proves Tarjan parity on the corpus graph
    "g9_scc" -> ((s, dir) =>
      Graph.sccConverged(sccEdges(T(s, dir, "lineitem")), "src", "dst",
          maxOuter = 4, maxInner = 12)
        .orderBy("node")),
    // LINK PREDICTION (r9, late): common-neighbor count + the
    // resource-allocation index in exact integer fixed point over the
    // sparse 16384-node graph — wedge candidates by one center-keyed
    // self-join, hub centers excluded up front (deg > 64 ⇒ RA weight
    // ≤ noise but deg² wedge cost ⇒ the whole bill), existing edges
    // anti-joined away
    "g10_link_predict" -> ((s, dir) =>
      Graph.linkPredict(triangleEdges(T(s, dir, "lineitem")), "src", "dst",
          minCommon = 2, maxCenterDegree = 64)
        .orderBy("a", "b")),
    // HITS hubs/authorities (r9, late): 4 rounds of the Kleinberg
    // mutual recursion in exact integer fixed point (max-normalized
    // half-rounds — floor division mirrors where an L2 sqrt cannot),
    // auth from OLD hubs then hub from NEW auths; per round two
    // cached-partitioned equi-joins (src-keyed and dst-keyed edge
    // copies), the max riding in-plan as a one-row cross join
    "g11_hits" -> ((s, dir) =>
      Graph.hits(graphEdges(T(s, dir, "lineitem")), "src", "dst",
          iterations = 4)
        .orderBy("node")),
    // NEWMAN MODULARITY of the label-propagation partition (r9,
    // late): the quality functional community detection optimizes,
    // as a first-class query — per community exact-integer
    // (e_in, d_sum, q_num = 4·m·e_in − d_sum², q_den = 4·m²) so
    // Q = Σ q_num / q_den reconstructs with no floating division;
    // m rides in-plan as a one-row cross join, labels join the edge
    // list on both endpoints (node-sized side, broadcastable)
    "g12_modularity" -> ((s, dir) => {
      val e = triangleEdges(T(s, dir, "lineitem"))
      Graph.modularity(e, "src", "dst",
          Graph.labelPropagation(e, "src", "dst", rounds = 3))
        .orderBy("label")
    }),
    "q15_having_subquery" -> ((s, dir) => {
      val c = T(s, dir, "customer"); val n = T(s, dir, "nation")
      val j = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      val g = j.agg((dsum(col("c_acctbal")) / count(lit(1))).as("g"))
      val p = j.groupBy("n_name")
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"),
          count(lit(1)).as("n_cust"))
      p.crossJoin(g).where(col("avg_bal") > col("g"))
        .select("n_name", "avg_bal", "n_cust").orderBy("n_name")
    }),
    "q16_cond_agg" -> ((s, dir) =>
      T(s, dir, "lineitem").groupBy("l_returnflag").agg(
        sum(when(col("l_discount") > 0.05, col("l_quantity").cast(d2))
          .otherwise(lit(0).cast(d2))).cast("double").as("qty_highdisc"),
        count(when(col("l_tax") === 0, 1)).as("n_notax"),
        sum(when(col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")),
          col("l_extendedprice").cast(d2)).otherwise(lit(0).cast(d2)))
          .cast("double").as("early_rev"),
        count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    "q17_distinct_agg" -> ((s, dir) =>
      T(s, dir, "orders").groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          countDistinct(col("o_orderstatus")).as("n_statuses"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")),
    // graft's own KMV TypedImperativeAggregate sketch (mergeable
    // bounded state; spec asserts error bounds vs exact)
    // oracle-checkable because KMV is EXACT below k: each event_type
    // has ~150 distinct users at the verify SF, under k=256, so the
    // sketch must return exactly count(DISTINCT). The estimating
    // (n > k) regime is spec-bounded separately (OperatorsSpec).
    "a2_kmv_distinct" -> ((s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(graft.functions.GraftFunctions.kmv_distinct(col("user_id"), 256)
          .as("kmv_users"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),
    // grouped quantiles from graft's own mergeable KLL-style sketch
    // (TypedImperativeAggregate; bounded state whatever the group
    // size). k=32768 exceeds every group at verify scale so the sketch
    // sits in its EXACT regime and the oracle checks sorted-list
    // indexing; the estimating regime's rank error is spec-bounded
    "a4_quantiles" -> ((s, dir) => {
      val probs = Seq(0.25, 0.5, 0.75, 0.95)
      T(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(graft.functions.GraftFunctions
          .kll_quantiles(col("l_extendedprice"), 32768, probs).as("qs"))
        .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("qi", "quantile_value")))
        .select(col("l_returnflag"),
          element_at(lit(probs.toArray), col("qi") + 1).as("q"),
          col("quantile_value"))
        .orderBy("l_returnflag", "q")
    }),
    // audience overlap: per-group KMV sketches -> pairwise set-operation
    // estimates (KMV multiset synopses). k=1024 >> any pair's distinct
    // union at verify scale, so the oracle checks the EXACT regime;
    // the estimating regime is spec-bounded
    "a3_kmv_overlap" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{kmv_values, kmv_overlap}
      val sk = T(s, dir, "events").groupBy("event_type")
        .agg(kmv_values(col("user_id"), 1024).as("sk"))
      val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
      val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
      a.join(b, col("type_a") < col("type_b"))
        .withColumn("ov", kmv_overlap(col("ska"), col("skb"), 1024))
        .select(col("type_a"), col("type_b"), col("ov.jaccard_est"),
          col("ov.intersect_est"), col("ov.union_est"))
        .orderBy("type_a", "type_b")
    }),
    // theta-style sketch set algebra: the full set-operation surface
    // (union / intersect / difference both ways) over the same
    // per-group KMV sketches a3 exchanges. k=1024 >> any pair's
    // distinct union at verify scale -> oracle checks the EXACT
    // regime; the estimating regime is spec-bounded
    "a5_sketch_algebra" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{kmv_values, kmv_set_ops}
      val sk = T(s, dir, "events").groupBy("event_type")
        .agg(kmv_values(col("user_id"), 1024).as("sk"))
      val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
      val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
      a.join(b, col("type_a") < col("type_b"))
        .withColumn("ops", kmv_set_ops(col("ska"), col("skb"), 1024))
        .select(col("type_a"), col("type_b"), col("ops.union_est"),
          col("ops.intersect_est"), col("ops.diff_left_est"),
          col("ops.diff_right_est"))
        .orderBy("type_a", "type_b")
    }),
    // frequent tokens per language via the Misra-Gries sketch:
    // bounded mergeable state (<= capacity counters per group on the
    // shuffle), exact while distinct <= capacity — the regime this
    // oracle checks; the estimating regime is PropertySpec-bounded
    "a6_heavy_hitters" -> ((s, dir) => {
      import graft.functions.GraftFunctions.heavy_hitters
      T(s, dir, "documents")
        .select(col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("lang")
        .agg(heavy_hitters(col("token"), capacity = 64, topN = 10).as("hh"))
        .select(col("lang"), posexplode(col("hh")).as(Seq("i", "e")))
        .select(col("lang"), (col("i") + 1).cast("int").as("rank"),
          col("e.item").as("token"), col("e.count").as("freq"))
        .orderBy("lang", "rank")
    }),
    // importance-weighted corpus sampling (Efraimidis-Spirakis with a
    // hash in place of the RNG): distributed top-k by priority, no
    // global sort; longer docs win proportionally more often
    "a7_weighted_sample" -> ((s, dir) =>
      CorpusOps.weightedSample(T(s, dir, "documents"), "doc_id",
          "n_chars", k = 50)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),
    // Count-Min sketch as a plain (r, bucket, c) DataFrame: one
    // hash-bucketed groupBy builds it (map-side partials cap the
    // shuffle at depth*width rows per partition), estimates broadcast
    // the tiny counter table and take the row-minimum. md5-derived
    // buckets make the whole counter matrix engine-reproducible: the
    // oracle replays build + estimate exactly; overcount >= 0 always
    "a8_countmin" -> ((s, dir) => {
      import graft.functions.CountMin
      val ev = T(s, dir, "events")
      val sk = CountMin.sketch(ev, "user_id", depth = 4, width = 256)
      val keys = ev.select("user_id").where(col("user_id") < 50)
      val est = CountMin.estimate(sk, keys, "user_id", depth = 4, width = 256)
      val truth = ev.where(col("user_id") < 50).groupBy("user_id")
        .agg(count(lit(1)).as("true_n"))
      est.join(truth, Seq("user_id"))
        .select(col("user_id"), col("est"), col("true_n"),
          (col("est") - col("true_n")).as("overcount"))
        .orderBy("user_id")
    }),
    // HyperLogLog from first principles as a plain DataFrame: md5
    // bucket/rho registers via one partially-aggregated max-groupBy
    // (≤ m rows per group on the shuffle), harmonic sum as an EXACT
    // integer Σ 2^(W+1−r) — the engine-replayable counterpart to a1's
    // rows-only approx_count_distinct; the oracle rebuilds registers
    // and estimate bit-for-bit, the spec bounds the error vs exact
    // base-2 DDSketch (r9, late): relative-error quantiles from EXACT
    // power-of-two buckets — bucket = bit-length of the cents value,
    // so both engines agree at every boundary; the true quantile
    // provably lies in the reported bucket's [lo, hi] (≤ 2× relative
    // error). The bucket table is the mergeable sketch; finalize is
    // one cumulative window + integer-only threshold comparisons
    "a10_ddsketch" -> ((s, dir) =>
      graft.functions.DdSketch.ddsketch(T(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag")),
    "a9_hll" -> ((s, dir) => {
      import graft.functions.Hll
      val ev = T(s, dir, "events")
      val regs = Hll.registers(ev, "event_type", "user_id", p = 6)
      val est = Hll.estimate(regs, "event_type", p = 6)
      val truth = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("true_distinct"))
      est.join(truth, Seq("event_type")).orderBy("event_type")
    }),
    // approximate aggregates: sketch outputs differ across engines by
    // design -> rows-only here; the spec asserts error bounds vs exact
    "a1_approx_agg" -> ((s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50_value"),
          percentile_approx(col("value"), lit(0.95), lit(1000)).as("p95_value"))
        .orderBy("event_type")),

    "q18_pivot" -> ((s, dir) =>
      T(s, dir, "orders").groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")),
    // the pivot's inverse: wide per-priority metrics unpivoted to
    // (key, metric, value) rows via stack() — a generator projection,
    // no shuffle beyond the source aggregation
    "q26_unpivot" -> ((s, dir) => {
      val wide = T(s, dir, "orders").groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"),
          countDistinct(col("o_custkey")).as("n_custs"))
      wide.select(col("o_orderpriority"),
          expr("""stack(3,
            'n_custs', CAST(n_custs AS DOUBLE),
            'n_orders', CAST(n_orders AS DOUBLE),
            'total_price', total_price) AS (metric, value)"""))
        .orderBy("o_orderpriority", "metric")
    }),
    // array output stringified on BOTH sides: the driver's pandas compare
    // can't hash array cells, so emit the sorted list as a CSV string
    "q19_collections" -> ((s, dir) =>
      T(s, dir, "events").groupBy("user_id")
        .agg(array_join(sort_array(collect_list(col("event_type"))), ",").as("event_types"),
          size(collect_set(col("event_type"))).as("n_distinct_types"))
        .orderBy("user_id")),
    "q20_edit_distance" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val a = d.select(col("doc_id"), substring(col("text"), 1, 80).as("t_a"))
      val b = d.select((col("doc_id") - 1).as("doc_id"),
        substring(col("text"), 1, 80).as("t_b"))
      a.join(b, "doc_id")
        .select(col("doc_id"), levenshtein(col("t_a"), col("t_b")).as("edit_dist"))
        .orderBy("doc_id")
    }),

    // correlated subquery through the SQL surface (Tables.registerAll)
    // RECURSIVE CTE through the SQL surface (Spark 4's WITH RECURSIVE):
    // depth-bounded reachability over the lineitem-derived graph,
    // written once in engine-portable SQL — the SAME text runs in
    // DuckDB as the oracle. Complements g1: there the ENGINE drives
    // the iteration (the 100 TB path — checkpointed rounds, bounded
    // lineage); here the planner's recursion operator is exercised,
    // with the depth bound keeping path enumeration finite.
    // GROUPING SETS (r9, late): the explicit multi-granularity
    // aggregate (per-priority, per-status, the cross, and the grand
    // total in ONE grouped scan) with grouping_id disambiguating the
    // null-as-aggregated rows — both engines share the MSB-first
    // grouping-bit convention
    "q35_grouping_sets" -> ((s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("q35_orders")
      s.sql("""SELECT o_orderpriority, o_orderstatus,
        |  CAST(grouping_id(o_orderpriority, o_orderstatus) AS INT)
        |    AS gid,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM q35_orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
        |  (o_orderpriority, o_orderstatus), ())
        |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin)
    }),
    // LATERAL correlated top-n (r9, late): the per-row dependent
    // subquery join — "top 2 accounts per nation" without a window
    // over the whole table; Spark plans the correlation as a
    // LateralJoin, DuckDB runs the same text verbatim
    "q36_lateral_topn" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT n.n_name, t.c_name, t.bal
        |FROM nation n,
        |  LATERAL (SELECT c_name, CAST(c_acctbal AS DOUBLE) AS bal
        |    FROM customer WHERE c_nationkey = n.n_nationkey
        |    ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n.n_name, t.bal DESC, t.c_name""".stripMargin)
    }),
    // UNPIVOT (r9, late): wide-to-long reshaping in the SQL surface —
    // per-flag quantity/price measures melted to (measure, value)
    // rows; both engines share the UNPIVOT clause
    "q37_unpivot" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT l_returnflag, measure, CAST(value AS DOUBLE)
        |    AS value
        |FROM (SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_price,
        |    CAST(count(*) AS DOUBLE) AS n_items
        |  FROM lineitem GROUP BY l_returnflag)
        |UNPIVOT (value FOR measure IN (total_qty, total_price, n_items))
        |ORDER BY l_returnflag, measure""".stripMargin)
    }),
    "q33_recursive_cte" -> ((s, dir) => recursiveReach(s, dir, depth = 2)),
    "q24_correlated_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > (SELECT 2 * CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                              FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_custkey, o_orderkey""")
    }),
    // correlated TABLE subquery (LATERAL): top-2 customers per nation.
    // Catalyst decorrelates the lateral limit into a ranked window —
    // one shuffle by nation, no per-row subquery execution
    "q25_lateral" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        ORDER BY n.n_name, c.c_acctbal DESC, c.c_name""")
    }),
    "q21_window_dist" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      T(s, dir, "orders").select(
          col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderpriority", "o_orderkey")
    }),
    "q22_datetime" -> ((s, dir) =>
      T(s, dir, "events").select(
          col("event_id"),
          year(col("ts")).as("y"), month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"),
          datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("days_since"))
        .orderBy("event_id")),
    "q23_null_semantics" -> ((s, dir) =>
      T(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          nullif(col("l_tax"), lit(0.0)).as("tax_or_null"),
          coalesce(nullif(col("l_tax"), lit(0.0)), lit(-1.0)).as("tax_filled"),
          nullif(col("l_tax"), lit(0.0)).eqNullSafe(
            nullif(col("l_discount"), lit(0.0))).as("tax_eq_disc"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- §2.3 event/time-series -------------------------------------
    "t1_tumble" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")),
    "t2_hop" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n"), col("total_value"))
        .orderBy("window_start")),
    "t3_session" -> ((s, dir) =>
      SessionWindow.aggregate(T(s, dir, "events"), "user_id", "ts", "event_id",
          Duration.ofMinutes(30))
        .select(col("user_id"), col("session_id"),
          timestamp_to_string(col("session_start")).as("session_start"),
          col("n_events"), col("duration_us"))
        .orderBy("user_id", "session_id")),
    "t4_stream_dedup" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          timestamp_to_string(col("ts")).as("first_ts"))
        .orderBy("user_id", "event_type")
    }),
    "t5_funnel" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val su = e.filter(col("event_type") === "signup").groupBy(col("user_id"))
        .agg(min(col("ts")).as("signup_ts"))
      val pu = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      su.join(pu, su("user_id") === col("p_user") && col("p_ts") >= col("signup_ts"),
          "left_outer")
        .groupBy(su("user_id"), col("signup_ts"))
        .agg(min(col("p_ts")).as("first_purchase_ts"),
          count(col("p_ts")).as("n_purchases_after"))
        .select(col("user_id"),
          timestamp_to_string(col("signup_ts")).as("signup_time"),
          timestamp_to_string(col("first_purchase_ts")).as("first_purchase_time"),
          col("n_purchases_after"),
          col("first_purchase_ts").isNotNull.as("converted"))
        .orderBy("user_id")
    }),

    // ---- §2.4 dedup -------------------------------------------------
    "d1_dedup_exact" -> ((s, dir) =>
      Dedup.exact(T(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")),
    "d2_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(T(s, dir, "documents"), "doc_id", "text",
        shingleWords = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b")),
    // NEAR-dup decontamination (the fuzzy big brother of d7's exact
    // n-gram decontam): cross-set LSH banding corpus × benchmark,
    // exact verify on bucket collisions only — catches reformatted /
    // lightly-edited eval leakage exact grams miss
    "d15_decontam_neardup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.minhashLshCross(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", shingleWords = 3, numHashes = 64,
          bands = 16, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    // the streaming LSH-band near-dup operator, exercised through its
    // batch path — must equal the batch minhashLsh pair set exactly
    // (same oracle as d2)
    "t6_stream_neardup" -> ((s, dir) =>
      graft.streaming.StreamingDedup.nearDupStream(
          T(s, dir, "documents").select(col("doc_id"),
            to_timestamp(lit("2024-01-01 00:00:00")).as("ingest_ts"), col("text")),
          java.time.Duration.ofSeconds(5), java.time.Duration.ofMinutes(10))
        .toDF().select("id_a", "id_b", "jaccard").distinct()
        .orderBy("id_a", "id_b")),
    // per-window top-k keys — the batch mirror of the Misra-Gries-
    // bounded streaming operator (stream == this whenever capacity
    // covers the window's distinct keys; spec'd via MemoryStream)
    // WINDOWED STREAMING DISTINCT (r9, late): per-tumbling-window HLL
    // — register maintenance is ONE watermarked windowed max agg (the
    // engine merges partials through its own aggregation state;
    // bounded 2^p ints per window where exact distinct holds every
    // key), estimate on the serving side. This entry is the exact
    // batch mirror (same hash/bucket/rho/fixed-point chain as a9);
    // the streaming path is spec'd via MemoryStream == this batch path
    "t9_stream_distinct" -> ((s, dir) => {
      import graft.functions.Hll
      val ev = T(s, dir, "events").withColumn("win",
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss"))
      val est = Hll.estimate(Hll.registers(ev, "win", "user_id", p = 6),
        "win", p = 6)
      val truth = ev.groupBy("win")
        .agg(countDistinct("user_id").as("true_distinct"))
      est.join(truth, Seq("win")).orderBy("win")
    }),
    // STREAMING TEMPORAL AS-OF JOIN as a driver-checked query (r10):
    // the unbounded-validity enrichment the reference's 5 s interval
    // join approximates, run through the REAL stateful stream
    // (flatMapGroupsWithState: orders held until the watermark passes
    // their event time, matched to the latest rate ≤ order time, rate
    // buffer pruned to watermark+1). Two event-time-ordered halves +
    // heartbeat batches drive watermark advancement deterministically;
    // the split point IS a watermark boundary, so nothing is late and
    // the drained output equals DuckDB's native ASOF LEFT JOIN
    "t12_asof_stream" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StatefulOps
      import graft.streaming.StatefulOps.AsOfEvent
      implicit val sqlCtx = s.sqlContext
      val ev = T(s, dir, "events").where(col("user_id") < 30)
      val o = ev.where(col("event_type") === "purchase")
        .select(col("event_id").cast("int").as("id"),
          (col("user_id") % 10).cast("string").as("key"),
          expr("unix_micros(ts) div 1000").as("tms"),
          (col("event_id") % 500).cast("int").as("amount"))
        .collect().map(r => AsOfEvent(r.getString(1), isRate = false,
          new java.sql.Timestamp(r.getLong(2)), 0, r.getInt(0), r.getInt(3)))
      // rates dedupe per (key, ms): max-event_id wins — ms truncation
      // could otherwise leave a state-insertion-order tie
      val r = ev.where(col("event_type") === "view")
        .select((col("user_id") % 10).cast("string").as("key"),
          expr("unix_micros(ts) div 1000").as("tms"),
          struct(col("event_id"),
            (col("event_id") % 1000).cast("int").as("rate")).as("p"))
        .groupBy("key", "tms").agg(max("p").as("p"))
        .select(col("key"), col("tms"), col("p.rate").as("rate"))
        .collect().map(r => AsOfEvent(r.getString(0), isRate = true,
          new java.sql.Timestamp(r.getLong(1)), r.getInt(2), 0, 0))
      val all = (o ++ r).sortBy(_.ts.getTime)
      val cut = all(all.length / 2).ts.getTime
      val (b1, b2) = all.partition(_.ts.getTime <= cut)
      val hbTs = all.map(_.ts.getTime).max
      def hb(off: Long) = AsOfEvent("hb", isRate = true,
        new java.sql.Timestamp(hbTs + off), 0, 0, 0)
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[AsOfEvent]
      val q = StatefulOps.asOfEnrichStream(
          in.toDS().withWatermark("ts", "1 second"))
        .writeStream.format("memory").queryName("t12_sink")
        .outputMode("append").start()
      try {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable()
        in.addData(hb(10000)); q.processAllAvailable()
        in.addData(hb(20000)); q.processAllAvailable()
      } finally q.stop()
      s.table("t12_sink")
        .select(col("id"), col("key"),
          expr("unix_millis(order_time)").as("order_ms"),
          col("amount"), col("rate"), col("converted"))
        .orderBy("id")
    }),
    // daily-grid resample + forward fill (r10): irregular event log →
    // fixed-cadence per-user series, LOCF semantics (the reference's
    // "rate in effect at transaction time" carried onto a grid); grid
    // generated arithmetically per entity, one window pass per user
    "t10_resample" -> ((s, dir) =>
      TimeSeries.resampleDailyFfill(T(s, dir, "events"), "user_id", "ts",
          "event_id", "value")
        .orderBy("user_id", "day")),
    // linear-interpolation resample (r11): the continuous-signal
    // gap fill t10's step function can't express — gap days take the
    // straight line between surrounding observations; the line is the
    // ONE float expression, written identically on both engines
    "t13_interp" -> ((s, dir) =>
      TimeSeries.resampleDailyInterp(T(s, dir, "events"), "user_id", "ts",
          "event_id", "value")
        .orderBy("user_id", "day")),
    // OHLC bar downsampling (r10): per (event_type, day) candlestick
    // compression — open/close by (ts, event_id) argmin/argmax, all
    // values carried doubles so parity is bit-exact
    "t11_ohlc" -> ((s, dir) =>
      TimeSeries.ohlcBars(T(s, dir, "events"), "event_type", "ts",
          "event_id", "value")
        .orderBy("event_type", "day")),
    "t8_window_topk" -> ((s, dir) =>
      graft.streaming.StreamingTopK.topKPerWindow(
          T(s, dir, "events"), "ts", "event_type", "1 hour", k = 3)
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("key"), col("n"), col("rank"))
        .orderBy("window_start", "rank")),
    // trailing event-time RANGE frame: per-user rolling 1h count/sum
    // at every event — the range window shuffles once by user and
    // scans each partition ordered, the shape that holds at any scale
    "t7_rolling" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
        .rangeBetween(-3600L * 1000000L, 0L)
      T(s, dir, "events").withColumn("tus", expr("unix_micros(ts)"))
        .select(col("user_id"), col("event_id"), col("tus"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
            .as("sum_1h"))
        .orderBy("user_id", "event_id")
    }),
    // pairs -> GROUPS: connected components over the minhash near-dup
    // pairs (hash-min label propagation), with group sizes
    // groups' DEFAULT is the hub-safe star-rounds algorithm (hash-min
    // funnels a hub's neighborhood through one reducer key per round —
    // the wrong default for near-dup graphs); hash-min stays the
    // explicitly-chosen variant (d10) for low-diameter edge sets
    "d8_dedup_groups" -> ((s, dir) =>
      Dedup.groups(
        Dedup.minhashLsh(T(s, dir, "documents"), "doc_id", "text",
          shingleWords = 3, numHashes = 64, bands = 16, threshold = 0.5),
        "id_a", "id_b")
        .orderBy("doc_id")),
    // canonical-representative dedup output (r10): the decision table
    // a curation run materializes — per near-dup group keep the
    // longest member (ties to the smallest id), singletons keep
    // themselves; every row carries its verdict for audit
    "d21_canonical" -> ((s, dir) =>
      Dedup.canonical(T(s, dir, "documents"), "doc_id", "n_chars",
          Dedup.minhashLsh(T(s, dir, "documents"), "doc_id", "text",
            shingleWords = 3, numHashes = 64, bands = 16, threshold = 0.5),
          "id_a", "id_b")
        .orderBy("doc_id")),
    // the same grouping through hash-min label propagation —
    // result-identical to d8, so it shares d8's oracle SQL
    "d10_components_hashmin" -> ((s, dir) =>
      Dedup.groups(
        Dedup.minhashLsh(T(s, dir, "documents"), "doc_id", "text",
          shingleWords = 3, numHashes = 64, bands = 16, threshold = 0.5),
        "id_a", "id_b", stars = false)
        .orderBy("doc_id")),
    // md5-basis simhash (engine-mirrorable token hashes): the DuckDB
    // oracle rebuilds the 64-bit signatures, band buckets, and Hamming
    // verify from md5() + UBIGINT arithmetic — the whole pipeline is
    // hash-checked, not just row-counted. The FNV-basis variant stays
    // the latency path (same machinery, spec'd).
    "d3_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(T(s, dir, "documents"), "doc_id", "text",
        bands = 8, maxHamming = 7, md5Hash = true)
        .orderBy("id_a", "id_b")),
    // scale-safe entry: frequency-ordered prefix filter (PPJoin) — pure
    // shuffle equi-joins, no broadcast, no quadratic scan. 3-gram
    // shingles (the standard dedup setting, same as d2/d6): this corpus
    // has a tiny vocabulary, so 2-gram postings collapse to ~900
    // distinct shingles and ANY prefix index degenerates; 3-grams keep
    // the posting lists selective. The broadcast variant (jaccardJoin)
    // remains the verify-grade op and is equivalence-spec'd against
    // this one at both widths.
    "d4_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardJoinPrefixRare(T(s, dir, "documents"), "doc_id", "text",
        shingleWords = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),
    // scale-safe entry: exact grid theta-join (1-Bucket-Theta) — the
    // pair space shards evenly over block-pair equi-join keys, no
    // broadcast, no nested loop, zero miss risk at any threshold. The
    // LSH-blocked variant is the high-threshold path; the plain
    // all-pairs form (nearDupPairs) is verify-only.
    "d5_embed_neardup" -> ((s, dir) =>
      Similarity.nearDupPairsGrid(T(s, dir, "embeddings"), 0.45)
        .orderBy("id_a", "id_b")),
    // cross-source content overlap via the mergeable MinHashMerge
    // aggregate. md5-basis slot hashes make the signatures — and so
    // the slot-agreement estimates — engine-reproducible: the DuckDB
    // oracle recomputes all 64 group-signature slots (min over every
    // gram in the group) and hash-matches the estimates exactly, while
    // the estimator-accuracy spec still bounds error vs exact Jaccard
    "d6_corpus_overlap" -> ((s, dir) =>
      Dedup.corpusOverlap(T(s, dir, "documents"), "source", "text",
        numHashes = 64, md5Hash = true)
        .orderBy("group_a", "group_b")),

    // ---- §2.5 similarity search -------------------------------------
    "s1_ann_bruteforce" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.bruteForceTopK(q, emb, 5).orderBy("query_id", "rank")
    }),
    // kNN-classifier weak labeling (r10): the vec_id%5==0 cohort is
    // the labeled seed (label = vec_id%3), everything else takes the
    // majority label of its 5 nearest labeled neighbors — integer
    // votes, ties to the smallest label; exact neighbor stage in the
    // oracle regime (the index probe substitutes at scale)
    "s32_knn_classify" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val labeled = emb.where(col("vec_id") % 5 === 0)
        .withColumn("label", col("vec_id") % 3)
      val q = emb.where(col("vec_id") % 5 =!= 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      Similarity.knnClassify(q, labeled, k = 5, "label")
        .orderBy("query_id")
    }),
    // table count derived from (minSim=0.2, maxMiss=1e-4): any true
    // neighbor at cosine >= 0.2 is found w.p. >= 1-1e-4, so on this
    // corpus (all true top-5 sims > 0.2) the output equals exact
    // brute-force top-k — which is exactly what the oracle checks
    "s2_ann_lsh" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.lshTopK(q, emb, 5, bits = 4, minSim = 0.2, maxMissProb = 1e-4)
        .orderBy("query_id", "rank")
    }),
    // full-probe IVF (nprobe = clusters) is exhaustive by construction,
    // so the oracle checks the ENTIRE index machinery — sample-trained
    // centroids, cell assignment, probe routing, rank — against exact
    // brute-force top-k. The approximating regime (nprobe << clusters)
    // is covered by the recall >= 0.9 specs, which an oracle can't
    // express (recall is data-dependent by design)
    "s4_ann_ivf" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfTopK(q, emb, 5, clusters = 16, nprobe = 16)
        .orderBy("query_id", "rank")
    }),
    "s3_knn_join" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.knnJoin(emb.filter(col("label") === 0),
          emb.filter(col("label") >= 5), 3,
          "vec_id", "embedding", "vec_id", "embedding")
        .orderBy("query_id", "rank")
    }),
    // asymmetric SQ8 exhaustive search: corpus scanned as dequantized
    // 8-bit codes, queries exact — the approximate scores themselves
    // are oracle-checked (dequantization is deterministic arithmetic)
    "s6_ann_sq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.sqTopK(q, emb, 5).orderBy("query_id", "rank")
    }),
    // IVF-SQ: quantized candidate generation + exact re-rank. Full
    // probe makes the candidate stage deterministic over the whole
    // corpus (oracle-checkable); the pruning regime is spec-bounded
    "s7_ann_ivfsq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfSqTopK(q, emb, 5, clusters = 16, nprobe = 16,
          candidates = 20)
        .orderBy("query_id", "rank")
    }),

    // ---- §2.6 text analysis -----------------------------------------
    "x1_langid" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("lang_actual"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),
    "x2_quality" -> ((s, dir) =>
      TextAnalysis.withQualityMetrics(T(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "punct_ratio", "upper_ratio",
          "stopword_hits", "avg_token_len", "quality_score")
        .orderBy("doc_id")),
    "x3_tokens" -> ((s, dir) =>
      TextAnalysis.withTokenCounts(T(s, dir, "documents"), "text")
        .select("doc_id", "ws_tokens", "bpe_ish_tokens")
        .orderBy("doc_id")),
    // both fingerprint families are engine-mirrorable: the polynomial
    // rolling hash folds per-char in HUGEINT mod 2^64 on the DuckDB
    // side, and the simhash uses the md5 token basis — so the oracle
    // hash-checks every fingerprint bit-for-bit
    "x4_fingerprint" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.rolling_hash(col("text")).as("fingerprint"),
          graft.functions.GraftFunctions.md5_simhash64(col("text")).as("content_simhash"))
        .orderBy("doc_id")),

    // ---- corpus prep (training-data pipeline) -----------------------
    // deterministic md5-range train/val/test split: engine- and
    // cluster-independent assignment, zero shuffle for the assignment
    "x5_split" -> ((s, dir) =>
      CorpusOps.hashSplit(T(s, dir, "documents"), "doc_id")
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("split", "lang")),
    // vocabulary build: global top-k via TakeOrdered over partial aggs
    "x6_vocab" -> ((s, dir) =>
      CorpusOps.vocabTopK(T(s, dir, "documents"), "text", 100)
        .orderBy("rank")),
    // corpus-level duplicated-passage audit: top-k word 3-grams by
    // total occurrences + document frequency, two-stage agg + TakeOrdered
    "x26_ngram_stats" -> ((s, dir) =>
      CorpusOps.ngramTopK(T(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 50)
        .orderBy("rank")),
    // TEXTRANK keywords (r9, late): PageRank COMPOSED over x31's
    // collocation graph — frequent words as md5-derived nodes,
    // adjacent pairs as undirected edges, g2's exact fixed-point
    // rounds; the oracle unrolls the whole composition
    "x32_textrank" -> ((s, dir) =>
      TextRank.keywords(T(s, dir, "documents"), "text",
        minCount = 5, iterations = 4, k = 20)
        .orderBy("rank")),
    // classifier-based quality filtering (the GPT-3/CCNet-style
    // linear probe) trained IN-ENGINE: full-batch GD where each round
    // is one partially-aggregated scan summing exact fixed-point
    // gradient contributions (BIGINTs — associative, engine- and
    // partitioning-independent); weights are a few driver-side longs.
    // The DuckDB oracle unrolls all 6 training rounds and matches the
    // scores bit-for-bit.
    // COLLOCATIONS by lift (r9, late): which word pairs co-occur far
    // above chance — exact counts, one shared double score expression,
    // prune-first unigram joins, TakeOrdered top-k
    "x31_collocations" -> ((s, dir) =>
      CorpusOps.collocations(T(s, dir, "documents"), "text",
        minCount = 5, k = 50)
        .orderBy("rank")),
    "x27_quality_classifier" -> ((s, dir) =>
      LinearModel.qualityClassifier(T(s, dir, "embeddings"), "vec_id",
          "embedding", col("label") < 5, nFeatures = 16, lr = 0.5,
          rounds = 6)
        .orderBy("vec_id")),
    // MassiveText-style repetition quality rule, one codegen'd pass
    "x7_repetition" -> ((s, dir) =>
      CorpusOps.repetitionStats(T(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "total_ngrams", "distinct_ngrams", "dup_ratio")
        .orderBy("doc_id")),
    // PII scrub: staged email/phone/IPv4 masking + per-stage counts;
    // md5 of the masked text is the engine-parity checksum (the
    // corpus itself is clean, so the planted-PII spec carries the
    // positive cases; this entry proves the full replace pipeline
    // agrees byte-for-byte with the oracle)
    "x8_pii" -> ((s, dir) =>
      CorpusOps.maskPii(T(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
          md5(col("masked")).as("masked_md5"))
        .orderBy("doc_id")),
    // corpus mixture re-weighting: deterministic per-stratum Bernoulli
    // sample as ONE md5 predicate — map-side, RNG-free, cluster-stable
    "x9_sample" -> ((s, dir) =>
      CorpusOps.stratifiedSample(T(s, dir, "documents"), "doc_id", "lang",
          Seq("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),
    // sliding-window chunking for context-length-bounded training/RAG:
    // per-row collection exprs + posexplode, no shuffle
    "x10_chunk" -> ((s, dir) =>
      CorpusOps.chunk(T(s, dir, "documents"), "doc_id", "text",
          size = 64, stride = 48)
        .orderBy("doc_id", "chunk_id")),
    // sequence packing into ~2048-token packs: closed-form assignment
    // over one per-shard window cumsum (no bin-packing driver loop)
    "x11_pack" -> ((s, dir) =>
      CorpusOps.packByBudget(T(s, dir, "documents"), "doc_id", "text",
          "lang", budget = 2048)
        .orderBy("lang", "doc_id")),
    // BM25 ranked retrieval for a literal query set: postings
    // pre-filtered to query terms before the tf shuffle, query side
    // broadcast; rank-only output keeps the oracle libm-proof
    "x12_bm25" -> ((s, dir) =>
      TextRank.bm25TopK(T(s, dir, "documents"), bm25Queries, k = 10)
        .orderBy("query_id", "rank")),
    // phrase-constrained BM25 over positional postings: only docs
    // containing the phrase CONTIGUOUSLY rank, tf = occurrence count,
    // df = phrase document frequency; postings filtered to the phrase
    // vocabulary before any shuffle, phrase slots broadcast
    "x18_phrase_bm25" -> ((s, dir) =>
      TextRank.bm25PhraseTopK(T(s, dir, "documents"), phraseQueries, k = 10)
        .orderBy("query_id", "rank")),
    // proximity BM25: all query terms within an 8-token span (unordered
    // — between bag-of-words x12 and exact-phrase x18); tf = qualifying
    // spans, df = qualifying docs; same literal query set as x12
    "x19_prox_bm25" -> ((s, dir) =>
      TextRank.bm25ProximityTopK(T(s, dir, "documents"), bm25Queries,
          window = 8, k = 10)
        .orderBy("query_id", "rank")),
    // ordered phrase-with-slop BM25: terms in order at increasing
    // positions within a 10-token span (gaps allowed) — the third
    // point of the retrieval trio (exact phrase / unordered window /
    // ordered slop); tf = distinct chain starts
    "x20_slop_bm25" -> ((s, dir) =>
      TextRank.bm25SlopTopK(T(s, dir, "documents"), bm25Queries,
          window = 10, k = 10)
        .orderBy("query_id", "rank")),
    // BM25 over a MATERIALIZED inverted index: postings written
    // term-bucketed once, queries partition-prune to their own terms'
    // buckets — identical scoring to x12, different read path
    // CHANGELOG-DRIVEN INDEX REFRESH (r9, late): the incremental
    // pipeline composed — the corpus table gains a batch of files,
    // f9's snapshot diff yields exactly the inserted documents
    // (reading only the ADDED files, never the carried ones), and the
    // text index ingests that changelog via append; retrieval then
    // equals an index built fresh over the full corpus, which IS the
    // oracle (the append==rebuild contract, fed by the changelog)
    // INCREMENTALLY MAINTAINED AGGREGATE (r9, late): the
    // materialized-view refresh story — the stored aggregate state
    // (exact DECIMAL sums) persists as a tiny parquet table; an
    // ingest batch refreshes it from the manifest diff's ADDED files
    // only. Two increments land here; the oracle is the full-table
    // recompute, so incremental == full is the check
    "c8_incremental_agg" -> ((s, dir) => {
      val tmp = layoutDir("c8", dir)
      val ev = T(s, dir, "events")
      FileManifest.writeLayout(ev.where(col("event_id") % 3 === 0),
        s"$tmp/t", "user_id", 8)
      val v1 = FileManifest.buildManifest(s, s"$tmp/t", "user_id")
      val keys = Seq("event_type")
      FileManifest.aggPartial(s, v1, keys, "value")
        .write.mode("overwrite").parquet(s"$tmp/agg1")
      // batch 2: new files appended to the table, agg refreshed from
      // the stored state + added files only
      FileManifest.writeLayout(ev.where(col("event_id") % 3 === 1),
        s"$tmp/b2", "user_id", 4)
      val v2 = FileManifest.append(v1, s,
        FileManifest.listParquet(s, s"$tmp/b2"), "user_id")
      FileManifest.aggRefresh(s, s.read.parquet(s"$tmp/agg1"),
          v1, v2, keys, "value")
        .write.mode("overwrite").parquet(s"$tmp/agg2")
      // batch 3
      FileManifest.writeLayout(ev.where(col("event_id") % 3 === 2),
        s"$tmp/b3", "user_id", 4)
      val v3 = FileManifest.append(v2, s,
        FileManifest.listParquet(s, s"$tmp/b3"), "user_id")
      FileManifest.aggRefresh(s, s.read.parquet(s"$tmp/agg2"),
          v2, v3, keys, "value")
        .select(col("event_type"), col("n_rows"),
          col("agg_sum").cast("double").as("total_value"))
        .orderBy("event_type")
    }),
    // AGGREGATE MAINTENANCE ACROSS REWRITES (r11): the retraction
    // fold c8's append-only refresh refuses — the stored state
    // crosses a CoW UPDATE version, then a CoW DELETE version, then
    // a plain append, each folded as the snapshot diff's signed I/D
    // deltas (IO = churned files only). DECIMAL-exact retraction
    // means the maintained state equals a from-scratch recompute
    // bit-for-bit, which is exactly what the oracle checks
    "c13_view_maintain" -> ((s, dir) => {
      val tmp = layoutDir("c13", dir)
      val ev = T(s, dir, "events")
      FileManifest.writeLayout(ev.where(col("event_id") % 3 === 0),
        s"$tmp/t", "user_id", 8)
      val v1 = FileManifest.buildManifest(s, s"$tmp/t", "user_id")
      val keys = Seq("event_type")
      FileManifest.aggPartial(s, v1, keys, "value")
        .write.mode("overwrite").parquet(s"$tmp/agg1")
      // version 2: CoW UPDATE churns the middle of the key range
      val v2 = FileManifest.updateRange(s, v1, "user_id", 3L, 9L,
        "value", col("value") * 2, s"$tmp/rw")
      FileManifest.aggMaintain(s, s.read.parquet(s"$tmp/agg1"),
          v1, v2, keys, "value")
        .write.mode("overwrite").parquet(s"$tmp/agg2")
      // version 3: CoW DELETE retires two user cohorts outright
      val v3 = FileManifest.deleteRange(s, v2, "user_id", 12L, 13L,
        s"$tmp/rw2")
      FileManifest.aggMaintain(s, s.read.parquet(s"$tmp/agg2"),
          v2, v3, keys, "value")
        .write.mode("overwrite").parquet(s"$tmp/agg3")
      // version 4: a plain ingest batch (the aggRefresh fast shape,
      // folded through the same maintenance entry point)
      FileManifest.writeLayout(ev.where(col("event_id") % 3 === 1),
        s"$tmp/b4", "user_id", 4)
      val v4 = FileManifest.append(v3, s,
        FileManifest.listParquet(s, s"$tmp/b4"), "user_id")
      FileManifest.aggMaintain(s, s.read.parquet(s"$tmp/agg3"),
          v3, v4, keys, "value")
        .select(col("event_type"), col("n_rows"),
          col("agg_sum").cast("double").as("total_value"))
        .orderBy("event_type")
    }),
    // CONTINUOUS WRITE-AUDIT-PUBLISH (r10): the streaming write path
    // into the graft table, batch-replayed through the SAME
    // per-micro-batch closure the stream drives (GovernedIngest
    // .ingestBatch — the c6 byte-shared discipline): three ingest
    // batches land as atomic catalog versions, the corrupted middle
    // batch trips the increment-only audit and never reaches main,
    // and batch 0 is REPLAYED afterwards — the exactly-once tag
    // binding makes it a no-op, which the oracle verifies (a
    // double-apply would double batch 0's rows)
    "c9_wap_stream" -> ((s, dir) => {
      import graft.streaming.GovernedIngest
      val tmp = layoutDir("c9", dir)
      freshDir(s, s"$tmp/cat")
      freshDir(s, s"$tmp/t")
      freshDir(s, s"$tmp/stage")
      val t = GovernedIngest.Table(s"$tmp/cat", s"$tmp/t", s"$tmp/stage",
        "event_type", "user_id",
        Seq(Expectations.notNull("user_id"),
          Expectations.inRange("value", 0L, 1000000L),
          Expectations.inSet("event_type",
            Seq("view", "click", "purchase", "signup", "error"))),
        numFiles = 6)
      val ev = T(s, dir, "events")
      val purch = ev.where(col("event_type") === "purchase")
      GovernedIngest.init(s, t, ev.where(col("event_type") =!= "purchase"))
      val b0 = purch.where(col("user_id") < 5)
      GovernedIngest.ingestBatch(s, t, b0, "replay", 0L)
      val bad = purch.where(col("user_id").between(5, 9))
        .withColumn("value", when(col("event_id") % 5 === 0,
          lit(-999.0)).otherwise(col("value")))
      GovernedIngest.ingestBatch(s, t, bad, "replay", 1L)
      GovernedIngest.ingestBatch(s, t,
        purch.where(col("user_id") >= 10), "replay", 2L)
      // redelivery: the tag-bound batch 0 must be a committed no-op
      GovernedIngest.ingestBatch(s, t, b0, "replay", 0L)
      require(FileManifest.refExists(s, s"$tmp/cat", "rejected-replay-1"),
        "the corrupted batch must be tagged rejected")
      GovernedIngest.publishedRead(s, t)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"),
          sum("event_id").as("sum_ids"))
        .orderBy("event_type")
    }),
    // MEDALLION HOP (r10): the full bronze→silver pipeline as ONE
    // continuous composition — c10's incremental version tail reads
    // the bronze graft table, a stateless quality transform drops the
    // error rows, and c9's write-audit-publish lands every micro-batch
    // on the governed silver table (staged, audited, atomically
    // published). Each hop is O(increment) at both ends: the source
    // reads only added files, the sink audits only the batch — the
    // shape a 100 TB lakehouse tier actually runs
    "c11_medallion" -> ((s, dir) => {
      import graft.streaming.GovernedIngest
      val tmp = layoutDir("c11", dir)
      val bronze = s"$tmp/bronze"
      Seq(s"$tmp/bronze", s"$tmp/scat", s"$tmp/st", s"$tmp/sstage",
        s"$tmp/ckpt").foreach(freshDir(s, _))
      val ev = T(s, dir, "events")
      def save(slice: org.apache.spark.sql.DataFrame, mode: String): Unit =
        slice.write.format("graft").option("path", bronze)
          .option("partitionBy", "event_type").option("clusterBy", "user_id")
          .option("files", "6").mode(mode).save()
      save(ev.where(col("user_id") < 5), "overwrite") // bronze v0
      save(ev.where(col("user_id").between(5, 9)), "append") // v1
      save(ev.where(col("user_id") >= 10), "append") // v2
      val t = GovernedIngest.Table(s"$tmp/scat", s"$tmp/st", s"$tmp/sstage",
        "event_type", "user_id",
        Seq(Expectations.notNull("user_id"),
          Expectations.inSet("event_type",
            Seq("view", "click", "purchase", "signup"))),
        numFiles = 6)
      def clean(df: org.apache.spark.sql.DataFrame) =
        df.where(col("event_type") =!= "error")
          .select(ev.columns.map(col): _*) // pin bronze's column order
      // silver v0 = the cleaned bronze v0; the stream owes v1 onward
      GovernedIngest.init(s, t, clean(
        s.read.format("graft").option("path", bronze).option("version", "0")
          .load()))
      val src = s.readStream.format("graft").option("path", bronze)
        .option("startingVersion", "1").load()
      val q = GovernedIngest.wapStream(clean(src), t, s"$tmp/ckpt")
      try { q.processAllAvailable() } finally { q.stop() }
      GovernedIngest.publishedRead(s, t)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"),
          sum("event_id").as("sum_ids"))
        .orderBy("event_type")
    }),
    // STREAMING READ of the graft table (r10, `GraftStreamSource`):
    // the incremental tail side of the format — offsets are committed
    // catalog versions, each micro-batch reads exactly the files the
    // versions in its range ADDED (O(increment) IO however large the
    // table), partition column restored from the dir encoding; the
    // whole 3-version history drains through the stream into the sink
    // and must re-aggregate to the full source relation
    "c10_stream_read" -> ((s, dir) => {
      val tmp = layoutDir("c10", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
      def save(slice: org.apache.spark.sql.DataFrame, mode: String): Unit =
        slice.write.format("graft").option("path", root)
          .option("partitionBy", "event_type").option("clusterBy", "user_id")
          .option("files", "6").mode(mode).save()
      save(ev.where(col("user_id") < 5), "overwrite") // v0 (create)
      save(ev.where(col("user_id").between(5, 9)), "append") // v1
      save(ev.where(col("user_id") >= 10), "append") // v2
      val q = s.readStream.format("graft").option("path", root).load()
        .writeStream.format("memory").queryName("c10_sink")
        .outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.table("c10_sink")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"),
          sum("event_id").as("sum_ids"))
        .orderBy("event_type")
    }),
    // CDC CHANGE-FEED read (r11) — the Delta-CDF rung above c10's
    // append-only tail: `readStream … changeFeed 'true'` crosses a
    // CoW-rewrite version instead of refusing, emitting
    // (_graft_version, _change_type I/D, row). The history is
    // base (v0, all I) → SQL UPDATE through the front door (v1 — the
    // f9 snapshotDiff of exactly the churned files: D old images,
    // I new images, carried rows cancel) → append (v2, all I, the
    // fast path with zero diff work). A row an update leaves
    // bit-identical emits nothing — the feed is the NET row change
    // per version, which is what a downstream incremental consumer
    // keys on. IO per batch is O(churned files), never the table.
    "c12_change_feed" -> ((s, dir) => {
      val tmp = layoutDir("c12", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      def save(slice: org.apache.spark.sql.DataFrame, mode: String): Unit =
        slice.write.format("graft").option("path", root)
          .option("partitionBy", "event_type").option("clusterBy", "user_id")
          .option("files", "6").mode(mode).save()
      save(ev, "overwrite") // v0 (create)
      s.sql("DROP TABLE IF EXISTS c12_events")
      s.sql(s"CREATE TABLE c12_events USING graft OPTIONS (path '$root')")
      s.sql("UPDATE c12_events SET value = value + 1000 " + // v1: CoW rewrite
        "WHERE event_type = 'purchase' AND user_id BETWEEN 2 AND 6")
      require(FileManifest.latestVersion(s, root).contains(1L),
        "the UPDATE must have committed exactly one new version")
      val mx = ev.agg(max("event_id")).head.getLong(0)
      save(ev.where(col("user_id") < 3) // v2: plain append
        .select((col("event_id") + mx + 1).as("event_id"), col("user_id"),
          col("event_type"), col("value")), "append")
      val q = s.readStream.format("graft").option("path", root)
        .option("changeFeed", "true").load()
        .writeStream.format("memory").queryName("c12_sink")
        .outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.table("c12_sink")
        .orderBy("_graft_version", "_change_type", "event_id")
    }),
    // BATCH CDC through SQL (r11, `table_changes('t', from[, to])` —
    // plans/GraftTimeTravel.scala, a real table-valued function via
    // injectTableFunction): where c12 tails the WHOLE history as a
    // stream, an incremental batch consumer folds exactly the
    // committed version SUB-RANGE it hasn't seen — here [1, 2]: the
    // CoW UPDATE's old/new images as D/I (rows the rewrite carried
    // bit-identical cancel in the f9 file diff) and the append's rows
    // as I; the base version is NOT re-read. The chain is immutable,
    // so the same range always returns the same rows — the consumer
    // checkpoints nothing but the last version it folded. IO is
    // O(files churned by the range), never the table
    "c14_table_changes" -> ((s, dir) => {
      val tmp = layoutDir("c14", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      def save(slice: org.apache.spark.sql.DataFrame, mode: String): Unit =
        slice.write.format("graft").option("path", root)
          .option("partitionBy", "event_type").option("clusterBy", "user_id")
          .option("files", "6").mode(mode).save()
      save(ev, "overwrite") // v0 (create)
      s.sql("DROP TABLE IF EXISTS c14_events")
      s.sql(s"CREATE TABLE c14_events USING graft OPTIONS (path '$root')")
      s.sql("UPDATE c14_events SET value = value + 500 " + // v1: CoW rewrite
        "WHERE event_type = 'click' AND user_id BETWEEN 3 AND 8")
      require(FileManifest.latestVersion(s, root).contains(1L),
        "the UPDATE must have committed exactly one new version")
      val mx = ev.agg(max("event_id")).head.getLong(0)
      save(ev.where(col("user_id") < 5) // v2: plain append
        .select((col("event_id") + mx + 1).as("event_id"), col("user_id"),
          col("event_type"), col("value")), "append")
      s.sql("""SELECT event_id, user_id, event_type, value,
        |  _graft_version, _change_type
        |FROM table_changes('c14_events', 1, 2)
        |ORDER BY _graft_version, _change_type, event_id""".stripMargin)
    }),
    // NATIVE STREAMING SINK (r11, `writeStream.format("graft")` —
    // GraftStreamSink): the write side of the loop c10's source
    // opened, no foreachBatch glue — each micro-batch commits as ONE
    // catalog version, exactly-once via the batch id recorded in the
    // version's _meta (visible only with the atomic commit marker, so
    // recovery replays skip exactly what landed). The entry streams a
    // 3-version graft source table through a mid-stream filter into a
    // fresh graft sink table (maxVersionsPerBatch=1 forces one sink
    // version per source version) and reads the SINK back as a batch
    // table — graft at both ends of a running stream
    "c15_stream_sink" -> ((s, dir) => {
      val tmp = layoutDir("c15", dir)
      val src = s"$tmp/src"
      val dst = s"$tmp/dst"
      freshDir(s, src)
      freshDir(s, dst)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      def save(slice: org.apache.spark.sql.DataFrame, mode: String): Unit =
        slice.write.format("graft").option("path", src)
          .option("partitionBy", "event_type").option("clusterBy", "user_id")
          .option("files", "4").mode(mode).save()
      save(ev.where(col("user_id") < 5), "overwrite") // v0
      save(ev.where(col("user_id").between(5, 9)), "append") // v1
      save(ev.where(col("user_id") >= 10), "append") // v2
      // the checkpoint must start with the fresh sink table — a
      // leftover one (same-JVM re-run) would mark every version as
      // already processed and the sink would rightly commit nothing
      freshDir(s, s"$tmp/ckpt")
      val q = s.readStream.format("graft").option("path", src)
        .option("maxVersionsPerBatch", "1").load()
        .where(col("event_id") % 3 =!= 1) // mid-stream transform
        .writeStream.format("graft")
        .option("path", dst).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "4")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()
      try { q.processAllAvailable() } finally { q.stop() }
      require(FileManifest.latestVersion(s, dst).exists(_ >= 1L),
        "the sink must have committed one version per non-empty batch")
      s.read.format("graft").option("path", dst).load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"),
          sum("event_id").as("sum_ids"))
        .orderBy("event_type")
    }),
    "c7_changelog_refresh" -> ((s, dir) => {
      val tmp = layoutDir("c7", dir)
      val docs = T(s, dir, "documents")
      FileManifest.writeLayout(docs.where(col("doc_id") % 2 === 0),
        s"$tmp/t0", "doc_id", 8)
      FileManifest.writeLayout(docs.where(col("doc_id") % 2 === 1),
        s"$tmp/t1", "doc_id", 8)
      val m0 = FileManifest.buildManifest(s, s"$tmp/t0", "doc_id")
      val m1 = m0 ++ FileManifest.buildManifest(s, s"$tmp/t1", "doc_id")
      val inserts = FileManifest.snapshotDiff(s, m0, m1)
        .where(col("change_type") === "I").drop("change_type")
      val idx = s"$tmp/idx"
      freshDir(s, idx)
      graft.sources.TextIndex.build(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", idx,
        buckets = 32)
      graft.sources.TextIndex.append(inserts, "doc_id", "text", idx)
      graft.sources.TextIndex.bm25TopK(s, idx, bm25Queries, k = 10)
        .orderBy("query_id", "rank")
    }),
    "x21_indexed_bm25" -> ((s, dir) => {
      val tmp = layoutDir("x21", dir)
      graft.sources.TextIndex.build(T(s, dir, "documents"), "doc_id",
        "text", tmp, buckets = 32)
      graft.sources.TextIndex.bm25TopK(s, tmp, bm25Queries, k = 10)
        .orderBy("query_id", "rank")
    }),
    // TOMBSTONE DELETE from the text index: O(ids) IO now, served
    // immediately with EXACT scoring — idf and avgdl subtract the
    // tombstoned docs' contributions, so delete-then-query equals a
    // fresh index built without them (which is the oracle)
    "x28_index_delete" -> ((s, dir) => {
      val tmp = layoutDir("x28", dir)
      val docs = T(s, dir, "documents")
      graft.sources.TextIndex.build(docs, "doc_id", "text", tmp,
        buckets = 32)
      graft.sources.TextIndex.delete(s, tmp,
        docs.filter(col("doc_id") % 9 === 4).select("doc_id"))
      graft.sources.TextIndex.bm25TopK(s, tmp, bm25Queries, k = 10)
        .orderBy("query_id", "rank")
    }),
    // keyword extraction: top TF-IDF terms per doc, ties term-asc
    "x13_tfidf" -> ((s, dir) =>
      TextRank.tfidfTopTerms(T(s, dir, "documents"), topN = 3)
        .orderBy("doc_id", "rank")),
    // corpus-trained bigram-LM quality filter: the 20 most-surprising
    // docs by mean log-probability (quantized to 2^-20 steps so the
    // ranking is sum-order-proof)
    "x14_lm_score" -> ((s, dir) =>
      TextRank.bigramLmScore(T(s, dir, "documents"), bottomK = 20)
        .orderBy("doc_id")),
    // deterministic sharded training-order shuffle: map-side shard
    // assignment (60-bit hash, no modulo bias) + two-phase positions
    // (per-(shard,hash-bucket) rank + broadcast prefix offsets), NO
    // global sort and no single-task-per-shard window; new epoch = new
    // salt. shards=1024 exercises the de-capped derivation.
    "x15_shuffle" -> ((s, dir) =>
      CorpusOps.shardShuffle(T(s, dir, "documents"), "doc_id", shards = 1024)
        .select("shard", "pos", "doc_id")
        .orderBy("shard", "pos")),
    // deterministic per-group cap (class balancing: at most k docs per
    // source, chosen in hash order) — two-phase ranked, so the
    // dominant group never funnels through one sorted task, and
    // already-full hash-prefix buckets drop BEFORE the rank shuffle
    "x24_group_cap" -> ((s, dir) =>
      CorpusOps.capPerGroup(T(s, dir, "documents"), "doc_id", "source",
          k = 20)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")),
    // leakage-safe split: near-dup groups land in ONE split, so test
    // docs never have near-copies in train; assignment = md5 split
    // keyed by the dedup component. Default exactPairs=true derives
    // groups from the exact prefix-filtered Jaccard join, so the
    // no-leakage guarantee (and the oracle match) is absolute, not
    // LSH-recall-probabilistic
    "x17_safe_split" -> ((s, dir) =>
      CorpusOps.leakageSafeSplit(T(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")),
    // token-budget corpus mixing: per-lang soft cap via a TWO-PHASE
    // cumsum — per-(lang, id-slice) windows + broadcast prefix offsets,
    // so no task ever sorts a whole language (the "N tokens per
    // language" recipe step)
    "x16_budget_mix" -> ((s, dir) =>
      CorpusOps.budgetMix(T(s, dir, "documents"), "doc_id", "text",
          "lang", budget = 2000L)
        .orderBy("lang", "doc_id")),
    // distributed BPE tokenizer training: ONE corpus pass collapses the
    // text to a distinct-word dict, then every merge round runs over
    // the vocabulary-sized dict only (one pair-agg + a 1-row argmax per
    // round) — round cost independent of corpus size
    "x22_bpe_train" -> ((s, dir) =>
      Bpe.trainMerges(T(s, dir, "documents"), "text", rounds = 12)
        .orderBy("round")),
    // BPE encode: train on the corpus, then apply the merge table
    // map-side inside transform/aggregate lambdas — per-doc token
    // counts with ZERO shuffle (merge table = 12 literal rows)
    "x23_bpe_encode" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = Bpe.collectMerges(
        Bpe.trainMerges(docs, "text", rounds = 12))
      Bpe.encodeTokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),
    // hybrid retrieval: BM25 lexical top-10 fused with exact-cosine
    // vector top-10 (query vectors = embeddings 1..3, matching the
    // BM25 query ids) by reciprocal-rank fusion. RRF contributions are
    // scaled by lcm(61..70) into exact BIGINTs, so the fused ranking
    // is bit-portable — no float summation anywhere in the fusion.
    // the SERVING STACK composed (r8): hybrid retrieval with BOTH legs
    // reading MATERIALIZED indexes — BM25 from the bucketed text index
    // (term-pruned scan), ANN from the shared multi-tier vector index
    // (cell-pruned scan at nprobe 2) — fused by exact-integer RRF. The
    // production shape: indexes built once, every query serves from
    // layouts; nothing here re-derives postings or re-trains cells.
    "c3_hybrid_index" -> ((s, dir) => {
      val tpath = sharedTextIdxMemo.getOrElseUpdate(dir, {
        val p = layoutDir("c3_text", dir)
        graft.sources.TextIndex.build(T(s, dir, "documents"), "doc_id",
          "text", p, buckets = 32)
        p
      })
      val lex = graft.sources.TextIndex.bm25TopK(s, tpath, bm25Queries, k = 10)
      val emb = T(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id").isin(1, 2, 3))
        .select(col("vec_id").cast("int").as("query_id"),
          col("embedding").as("query_vec"))
      val vec = graft.sources.VectorIndex.topK(s, sharedVectorIndex(s, dir),
          qv, k = 10, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      TextRank.rrfFuse(Seq(lex, vec), k = 10)
        .orderBy("query_id", "rank")
    }),
    "x25_hybrid_rrf" -> ((s, dir) => {
      val lex = TextRank.bm25TopK(T(s, dir, "documents"), bm25Queries,
        k = 10)
      val emb = T(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id").isin(1, 2, 3))
        .select(col("vec_id").cast("int").as("query_id"),
          col("embedding").as("query_vec"))
      val vec = Similarity.bruteForceTopK(qv, emb, 10)
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("doc_id"))
      TextRank.rrfFuse(Seq(lex, vec), k = 10)
        .orderBy("query_id", "rank")
    }),

    // benchmark decontamination: distinct 3-gram overlap counts against
    // the held-out source, shuffle equi-join on the gram string
    "d7_decontam" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      CorpusOps.decontaminationOverlap(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // SQ8 scalar quantization: per-dim ranges from one bounded
    // reduction, then a map-only codegen'd encode — the 4x memory cut
    // an in-RAM ANN corpus takes at 100 TB
    "s5_quantize" -> ((s, dir) =>
      Quantize.minMaxQuantize(T(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), size(col("codes")).as("n_dims"),
          aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
          md5(array_join(transform(col("codes"), _.cast("string")), ","))
            .as("codes_md5"))
        .orderBy("vec_id")),
    // PQ search: 8 nibble codes per 64-dim vector (64x scan payload
    // cut), approximate scoring on the reconstruction, exact re-rank
    // of 50 candidates. Deterministic codebook -> fully oracle-checked
    "s8_ann_pq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.pqTopK(q, emb, 5, subspaces = 8, codewords = 16,
          candidates = 50)
        .orderBy("query_id", "rank")
    }),
    // IVF-PQ (FAISS IndexIVFPQ shape) with k-means-refined codebooks.
    // Trained codebooks aren't SQL-mirrorable, so the oracle pins the
    // exact regime: full probe + unbounded candidate budget makes the
    // exact re-rank provably equal to brute force while still driving
    // the whole composed pipeline (cell assignment, probe join, PQ
    // encode/score, two-stage candidate rank). The pruning regime
    // (nprobe=2/16, bounded candidates) is recall-spec'd in tests
    "s9_ann_ivfpq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfPqTopK(q, emb, 5, clusters = 16, nprobe = 16,
          candidates = Int.MaxValue, subspaces = 8, codewords = 16)
        .orderBy("query_id", "rank")
    }),
    // deterministic k-means over fixed-point embeddings: integer dot
    // products/norms are double-exact, so assignment is bit-stable and
    // the full 2-iteration Lloyd run mirrors in DuckDB CTE for CTE
    "s10_kmeans" -> ((s, dir) =>
      Similarity.kmeansQuantized(T(s, dir, "embeddings"),
          k = 8, iterations = 2)
        .orderBy("vec_id")),
    // RESIDUAL IVF-PQ: PQ codes encode v - centroid(cell) and decode
    // adds the centroid back — the full FAISS IndexIVFPQ design; same
    // oracle regime as s9 (full probe + unbounded candidates = exact)
    "s12_ann_ivfpq_res" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfPqResidualTopK(q, emb, 5, clusters = 16, nprobe = 16,
          candidates = Int.MaxValue, subspaces = 8, codewords = 16)
        .orderBy("query_id", "rank")
    }),
    // PER-CELL residual IVF-PQ behind an explicit memory budget:
    // each cell's own residual codebook, total state clamped to the
    // budget (here sized for the full 16 codewords); same exact
    // oracle regime as s9/s12
    "s14_ann_ivfpq_cell" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfPqResidualPerCellTopK(q, emb, 5, clusters = 16,
          nprobe = 16, candidates = Int.MaxValue, subspaces = 8,
          codewords = 16, memoryBudgetBytes = 1L << 21)
        .orderBy("query_id", "rank")
    }),
    // BALANCED k-means: same training, but assignment is deferred
    // acceptance under a hard per-cluster capacity — every round is
    // deterministic (propose to best open centroid, accept top-
    // remaining by cosine), so DuckDB replays the rounds CTE by CTE
    "s13_kmeans_balanced" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      // exact ceil(n/k): the tightest feasible capacity, so the
      // acceptance rounds genuinely rebalance (a loose cap degenerates
      // to round-1 argmax and the oracle would cover nothing)
      val cap = math.ceil(emb.count() / 8.0).toLong
      Similarity.kmeansBalanced(emb, k = 8, iterations = 2,
          capacity = cap, maxRounds = 6)
        .orderBy("vec_id")
    }),
    // BALANCED IVF: the coarse quantizer assigns under a hard per-cell
    // capacity, so every inverted list — and hence every probe — is
    // structurally bounded whatever the embedding skew; exact-integer
    // cosine end to end, so probe AND search replay in the oracle
    "s15_ann_ivf_balanced" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val cap = math.ceil(emb.count() / 8.0).toLong
      Similarity.ivfBalancedTopK(q, emb, k = 5, clusters = 8, nprobe = 2,
          iterations = 2, capacity = cap, maxRounds = 6)
        .orderBy("query_id", "rank")
    }),
    // MATERIALIZED balanced-IVF index: s15's trainer persisted as a
    // cell-partitioned layout + centroid sidecar; the query partition-
    // prunes to its nprobe cells — identical probe selection, scoring,
    // and tie-breaks to s15, so the oracle is shared verbatim (the
    // index changes the READ PATH, never the answer)
    "s16_vector_index" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sources.VectorIndex.topK(s, sharedVectorIndex(s, dir), q,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // METADATA-FILTERED search from the materialized index ("WHERE
    // label >= 5 AND nearest"): the label column rides IN the cell
    // files, the predicate lands on the parquet scan (PushedFilters),
    // and scoring sees only passing rows — pre-filter semantics, the
    // true top-k among matching vectors. Full probe => the exact
    // filtered answer; with s16's pruned probes (nprobe = 2, mirrored
    // by the oracle's probe CTE) it is s15's oracle chain with the
    // candidate set restricted to matching ids.
    "s21_vector_index_filtered" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.sources.VectorIndex.topKFiltered(s, sharedVectorIndex(s, dir), q,
          k = 5, nprobe = 2, filter = col("label") >= 5)
        .orderBy("query_id", "rank")
    }),
    // TOMBSTONE DELETE from the materialized index: O(deleted ids) IO
    // now (staged dir + atomic marker), reads anti-join the tiny
    // tombstone broadcast immediately, compaction reclaims physically.
    // Training saw the full corpus, so the oracle is s15's chain with
    // only the candidate set filtered — exactly the delete contract.
    "s20_vector_index_delete" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      // own copy (the shared index must not see the tombstones), but
      // maintenance — build + delete — runs once per JVM per corpus;
      // the measured serving path is the tombstone-anti-join read
      val tmp = sharedDelIdxMemo.getOrElseUpdate(dir, {
        val cap = math.ceil(emb.count() / 8.0).toLong
        val p = layoutDir("s20", dir)
        graft.sources.VectorIndex.build(emb, "vec_id", "embedding", p,
          clusters = 8, iterations = 2, capacity = cap, maxRounds = 6)
        graft.sources.VectorIndex.delete(s, p,
          emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
        p
      })
      graft.sources.VectorIndex.topK(s, tmp, q, k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),
    // the index's PQ TIER (IVF-ADC): candidate staging scans ONLY the
    // compact codes column (columnar projection — subspaces x 4 bytes
    // per row instead of dim x 8), then re-ranks the staged candidates
    // exactly. candidates >= nprobe x capacity makes the staging
    // lossless at ANY scale factor, so the result — and the oracle —
    // is s15's verbatim while the whole encode/reconstruct/stage/
    // re-rank pipeline is hash-checked in between
    "s17_vector_index_pq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val cap = math.ceil(emb.count() / 8.0).toLong
      graft.sources.VectorIndex.topKPq(s, sharedVectorIndex(s, dir), q,
          k = 5, nprobe = 2, candidates = (2 * cap).toInt + 16, rerank = true)
        .orderBy("query_id", "rank")
    }),
    // the index's SQ8 TIER: candidate staging scans only (vec_id, sq)
    // — one byte per dim — then re-ranks exactly; candidates >= probed
    // rows makes staging lossless, so the result (and oracle) is
    // s15's verbatim while the encode/decode/stage pipeline is
    // hash-checked in between (s17's argument at the cheaper tier)
    "s22_vector_index_sq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val cap = math.ceil(emb.count() / 8.0).toLong
      graft.sources.VectorIndex.topKSq(s, sharedVectorIndex(s, dir), q,
          k = 5, nprobe = 2, candidates = (2 * cap).toInt + 16, rerank = true)
        .orderBy("query_id", "rank")
    }),
    // MMR-diversified retrieval: 20-deep quantized-cosine pool per
    // query, 5 greedy picks at 0.7 relevance / 0.3 diversity (explicit
    // literals — never 1-0.7, which is not the double 0.3); the greedy
    // rounds replay CTE-by-CTE in the oracle
    "s18_mmr_diversify" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 6)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.mmrDiversifyTopK(q, emb, k = 5, candidates = 20)
        .orderBy("query_id", "pick")
    }),
    // PRINCIPAL DIRECTION by deterministic fixed-point power iteration
    // (the PCA/whitening/ABTT front door): (QᵀQ)v per round as two
    // passes — map-only dots with v as a literal, then a posexplode +
    // per-dim partial-agg (the shuffle carries ≤ partitions×dim rows)
    // — all exact BIGINT, so the oracle unrolls every round
    "s23_pca_power" -> ((s, dir) =>
      Pca.principalDirection(T(s, dir, "embeddings"), iterations = 3)
        .orderBy("dim")),
    // EXACT maximum-inner-product top-k — the recommender-scoring
    // ranking cosine ANN cannot serve (unnormalized: high-norm items
    // legitimately win). Exact BIGINT dots, s1 reduction and tie
    // rules; the IVF-served reduction (norm augmentation) is the
    // spec'd scale path
    "s25_mips" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.mipsTopK(q, emb, k = 5)
        .orderBy("query_id", "rank")
    }),
    // MIPS served FROM the shared materialized index (the scale path
    // s25 measures exactly): probe cells by AUGMENTED-centroid cosine
    // against the frozen M² (the norm-augmentation reduction on the
    // cosine layout), stage by augmented cosine over the per-row aug
    // column, re-rank by the EXACT integer inner product — candidates
    // >= probed rows makes staging lossless, so the oracle is the
    // probe CTE + exact-IP ranking over the probed cells
    "s26_mips_index" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val cap = math.ceil(emb.count() / 8.0).toLong
      graft.sources.VectorIndex.topKMips(s, sharedVectorIndex(s, dir), q,
          k = 5, nprobe = 2, candidates = (2 * cap).toInt + 16)
        .orderBy("query_id", "rank")
    }),
    // ALL-PAIRS k-NN GRAPH from the shared index (r9, late): every
    // corpus vector gets its top-3 within-cell neighbors — one
    // self-equi-join on the cell id (pair work ≤ capacity·n by the
    // balanced build's bound, the d16 discipline), exact integer
    // cosine, per-src rank riding the join's own clustering
    "s27_knn_graph" -> ((s, dir) =>
      graft.sources.VectorIndex.knnGraph(s, sharedVectorIndex(s, dir), k = 3)
        .orderBy("src", "rank")),
    // BINARY-QUANTIZATION serving (r9, late): Hamming pre-rank over
    // 16 bytes/row of sign bits — the most compact candidate scan in
    // the ladder — then exact integer re-rank; lossless candidates
    // (>= probed rows) make it bit-identical to s16, which IS the
    // oracle (the s17/s22 regime argument)
    "s29_vector_index_bq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      val cap = math.ceil(emb.count() / 8.0).toLong
      graft.sources.VectorIndex.topKBq(s, sharedVectorIndex(s, dir), q,
          k = 5, nprobe = 2, candidates = (2 * cap).toInt + 16)
        .orderBy("query_id", "rank")
    }),
    // NN-DESCENT k-NN graph (r9, late): the HNSW-family build
    // primitive as relational rounds — seed = within-cell pairs ∪
    // within-id-hash-bucket pairs (the deterministic stand-in for
    // NN-descent's random init; ids are uncorrelated with geometry),
    // then 2 rounds of two-hop composition + exact re-rank, top-3
    // per node. Materialized once (src-hash-bucketed, dst cell
    // carried) and read back — the x21/d17 index-served discipline
    "s30_nn_descent" -> ((s, dir) =>
      graft.sources.VectorIndex.readKnnGraph(s, sharedKnnGraph(s, dir))
        .orderBy("src", "rank")),
    // GRAPH-ASSISTED serving (r9, late): nprobe-1 IVF seeds, one hop
    // through the materialized NN-descent graph into cells the probe
    // never opened, exact integer re-rank over the union — recall
    // bought back without widening the probe; every driver action is
    // query-sized (the f18 discipline)
    "s31_graph_serve" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      graft.sources.VectorIndex.topKExpand(s, sharedKnnGraph(s, dir), q,
          k = 5, nprobe = 1)
        .orderBy("query_id", "rank")
    }),
    // INCREMENTAL GRAPH MAINTENANCE (r11): build → materialize the
    // NN-descent graph → append NEW vectors (ids shifted past the
    // corpus) → nnDescentAppend refreshes only new-incident edges and
    // rewrites only changed source-cell partitions → serve through
    // the refreshed graph. Served at FULL probe the result is
    // bit-identical to the exact integer-cosine ranking over the
    // whole live corpus (expansion candidates are a superset,
    // re-ranked exactly), which is what the oracle replays — it pins
    // the append's frozen-scale quantization and the serving path;
    // PlanShapeSpec pins the refresh itself (recall parity with a
    // full rebuild at nprobe 1, k-edge coverage of appended ids,
    // partition-bounded rewrite).
    "s33_graph_refresh" -> ((s, dir) => {
      val tmp = layoutDir("s33", dir)
      val idx = s"$tmp/idx"
      freshDir(s, idx) // append+refresh mutate: rebuild per run
      val emb = T(s, dir, "embeddings")
      def phase[A](p: String)(f: => A): A = {
        s.sparkContext.setJobDescription(s"s33: $p")
        try f finally s.sparkContext.setJobDescription(null)
      }
      // capacity floors at 75 (the verify SFs keep their exact cell
      // layout) and derives from the corpus above that — with 25%
      // slack so the append phase has cell headroom — letting the
      // entry scale with replicated table dirs; the full-probe
      // serve makes the RESULT capacity-independent either way
      val cap = math.max(75L, math.ceil(emb.count() * 1.25 / 8.0).toLong)
      phase("build")(graft.sources.VectorIndex.build(emb, "vec_id",
        "embedding", idx, clusters = 8, iterations = 2, capacity = cap,
        maxRounds = 6))
      phase("knng")(graft.sources.VectorIndex.buildKnnGraph(s, idx,
        k = 8, rounds = 1))
      val shifted = emb.where(col("vec_id") < 50)
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding"))
      phase("append")(graft.sources.VectorIndex.append(
        shifted, "vec_id", "embedding", idx))
      phase("refresh")(graft.sources.VectorIndex.nnDescentAppend(s, idx,
        shifted.select("vec_id"), k = 8, rounds = 1))
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      graft.sources.VectorIndex.topKExpand(s, idx, q, k = 5, nprobe = 8)
        .orderBy("query_id", "rank")
    }),
    // RECALL AUDIT (r9, late): "measure, don't guess" as a first-
    // class query — exact brute-force top-5 vs the shared index's
    // nprobe-2 serving path, per-query hit counts and recall%; the
    // oracle replays BOTH ranking systems and intersects them
    "s28_recall_audit" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      val flat = Similarity.bruteForceTopK(q, emb, 5)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = graft.sources.VectorIndex.topK(s,
          sharedVectorIndex(s, dir), q, k = 5, nprobe = 2)
        .select(col("query_id").as("__qi"),
          col("neighbor_id").as("__ivf_id"))
      flat.join(ivf, flat("query_id") === col("__qi") &&
          col("neighbor_id") === col("__ivf_id"), "left")
        .groupBy(flat("query_id").as("query_id"))
        .agg(count(col("__ivf_id")).as("n_hits"))
        .select(col("query_id"), lit(5).as("k"), col("n_hits"),
          (col("n_hits") * 20).as("recall_pct"))
        .orderBy("query_id")
    }),
    // ALL-BUT-THE-TOP retrieval (Mu & Viswanath '18): the corpus's
    // dominant direction removed from corpus AND queries as an exact
    // scaled integer residual (r = q·⟨v,v⟩ − ⟨q,v⟩·v — cosine is
    // scale-invariant), then the s1 ranked cosine on residuals; scale
    // 64 keeps the whole composition in exact 64-bit arithmetic
    "s24_abtt_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Pca.abttTopK(q, emb, k = 5, iterations = 2)
        .orderBy("query_id", "rank")
    }),
    // Johnson-Lindenstrauss sketch-and-refine ANN: 64 float dims
    // shrink to 16 exact-integer dims via an md5-derived ±1 sign
    // matrix (fixed-point quantize FIRST, so projections are integer
    // sums — order-free, engine-identical); a candidates-deep pool
    // retrieved by projected integer dots, then exact full-width
    // re-rank of only the pool. Recall is spec-measured.
    "s19_ann_rp" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.rpRerankTopK(q, emb, k = 5, candidates = 50,
          dim = 64, outDim = 16)
        .orderBy("query_id", "rank")
    }),
    // k-means with deterministic farthest-point (k-means++-style)
    // seeding: seeds spread by construction instead of first-k-by-id;
    // each seeding round is a map-only codegen'd min-dist pass + one
    // TakeOrdered(1); the whole greedy chain replays in the oracle
    "s11_kmeans_pp" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val seeds = Similarity.kmeansPlusPlusSeeds(emb, k = 8)
      Similarity.kmeansQuantized(emb, k = 8, iterations = 2,
          initialSeeds = Some(seeds))
        .orderBy("vec_id")
    }),
    // SemDeDup: cluster the embedding space, exact cosine pairs only
    // WITHIN clusters — the published semantic-dedup recipe; recall vs
    // the exact grid join (d5) is spec-bounded. k derives from the
    // corpus size (n/64 -> 8 at sf0.01, matching the oracle CTE's k;
    // the oracle is size-pinned, the operator is not)
    "d11_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedupPairsAuto(T(s, dir, "embeddings"),
          targetClusterSize = 64, iterations = 2, threshold = 0.45)
        .orderBy("id_a", "id_b")),
    // SemDeDup over the BALANCED assignment: clusters are capacity-
    // capped, so per-cluster pair work is structurally bounded — the
    // oracle replays the balanced rounds at capacity = 64 (the
    // operator's targetClusterSize; k = ceil(500/64) = 8 at sf0.01,
    // size-pinned in the oracle like d11's)
    "d12_semantic_dedup_balanced" -> ((s, dir) =>
      Similarity.semanticDedupPairsBalanced(T(s, dir, "embeddings"),
          targetClusterSize = 64, iterations = 2, threshold = 0.45)
        .orderBy("id_a", "id_b")),
    // semantic dedup FROM the materialized index: the capacity-bounded
    // cells ARE SemDeDup's clusters — no per-run re-train, per-cell
    // pair work structurally bounded; same assignment chain as
    // s15/s16, so the oracle is that chain + within-cell pairs
    "d16_semantic_dedup_index" -> ((s, dir) =>
      graft.sources.VectorIndex.semanticDedupPairs(s,
          sharedVectorIndex(s, dir), threshold = 0.45)
        .orderBy("id_a", "id_b")),
    // exact substring-span duplication (Lee et al.): every 8-token
    // window md5-hashed, windows whose hash lands in >= 2 distinct
    // docs are duplicated passages; per doc, the span count, the
    // distinct token positions covered, and the covered fraction a
    // cleaning pipeline thresholds on. Term-frequency-shaped plan:
    // gram agg + equi-join-back, never pairwise.
    "d13_substring_dup" -> ((s, dir) =>
      Dedup.substringDupStats(T(s, dir, "documents"), n = 8)
        .orderBy("doc_id")),
    // the cleaning ACTION on d13's analysis: non-canonical occurrences
    // of duplicated 8-token windows are cut (canonical = min doc_id
    // holding the hash keeps all of its occurrences), cleaned text
    // rebuilt from the kept tokens by a codegen'd filter-by-index
    "d14_substring_rm" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(T(s, dir, "documents"), n = 8)
        .orderBy("doc_id")),
    // d13 SERVED from the materialized gram-postings layout
    // (sources.GramIndex) — substring dedup as index maintenance, the
    // text-side twin of d16: the corpus is shingled ONCE at build
    // (the tokenize+window+md5 CPU paid up front), each run is one
    // hash aggregation + join-back over the postings. Same answer,
    // different read path, so d13's oracle is shared verbatim.
    // EXACT directional containment dedup — the mode Jaccard misses
    // (a short doc embedded verbatim in a longer one): PPJoin-style
    // rare-first prefixes on the contained side vs full postings,
    // size-guarded, exact sorted-merge verify. Threshold 0.5 at
    // 3-gram shingles surfaces the corpus's truncation-style dups.
    "d18_containment" -> ((s, dir) =>
      Dedup.containmentJoin(T(s, dir, "documents"), "doc_id", "text",
          shingleWords = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),
    "d17_substring_dup_index" -> ((s, dir) => {
      // build once per JVM per corpus (the index story: shingling is
      // paid at build, every dedup run serves from the layout)
      val tmp = sharedGramMemo.getOrElseUpdate(dir, {
        val p = layoutDir("d17", dir)
        graft.sources.GramIndex.build(T(s, dir, "documents"),
          "doc_id", "text", p, n = 8)
        p
      })
      graft.sources.GramIndex.dupStats(s, tmp)
        .orderBy("doc_id")
    }),
    // TAKEDOWN through the gram layout (maintenance symmetry — d17's
    // index must honor deletes or span dedup serves removed docs):
    // tombstone a deterministic doc set, then serve dupStats; the
    // oracle is d17's chain over documents MINUS the deleted ids —
    // delete == rebuild, the x28 pattern at the span level
    // TYPO-TOLERANT pair matching (r9, late): edit-distance ≤ 1 by
    // symmetric-delete blocking — ONE equi-join on deletion-variant
    // keys generates candidates (Σ bucket², never n²), exact
    // levenshtein verifies; the ORACLE is the brute-force n² join, so
    // the blocking provably loses nothing
    "d20_typo_pairs" -> ((s, dir) =>
      Dedup.typoPairs(T(s, dir, "customer"), "c_custkey", "c_name")
        .orderBy("name_a", "name_b")),
    "d19_gram_delete" -> ((s, dir) => {
      val tmp = layoutDir("d19", dir)
      val docs = T(s, dir, "documents")
      graft.sources.GramIndex.build(docs, "doc_id", "text", tmp, n = 8)
      graft.sources.GramIndex.delete(s, tmp,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      graft.sources.GramIndex.dupStats(s, tmp)
        .orderBy("doc_id")
    }),
    // exact decontamination behind a broadcast Bloom prefilter: the
    // benchmark grams collapse into one bit array, corpus grams that
    // miss it never reach the shuffle, survivors exact-verify
    "d9_decontam_bloom" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      CorpusOps.decontaminate(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "doc_id", "text")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),
    // single-pass column profiler (KMV-backed distinct estimates).
    // k=1024 exceeds every documents-column cardinality at verify
    // scale, so the KMV estimates sit in their EXACT regime and the
    // whole profile — counts, nulls, distincts, min/max — oracle-checks
    // against plain SQL; the estimating regime is spec-bounded
    "p1_profile" -> ((s, dir) =>
      Profile.profile(T(s, dir, "documents"), distinctK = 1024).orderBy("column")),
    // windowed profile: the same declarative reshape runs unchanged on
    // a streaming frame (per-window mergeable partials; see
    // StreamingSpec batch-parity test). Batch mode here, hourly
    // windows over events; k=1024 keeps KMV exact at verify scale
    "p2_profile_windowed" -> ((s, dir) =>
      Profile.profileWindowed(
          T(s, dir, "events").select(col("ts"), col("event_type"), col("user_id")),
          "ts", "1 hour", distinctK = 1024)
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("column"), col("type"), col("n_rows"), col("n_nulls"),
          col("approx_distinct"), col("min_value"), col("max_value"))
        .orderBy("window_start", "column")),

    // the audit as a continuous data-contract monitor: same mergeable
    // violation aggregates per event-time window (streaming parity in
    // StreamingSpec); in_range is tight enough to report real breaches
    "p5_expectations_windowed" -> ((s, dir) =>
      Expectations.auditWindowed(T(s, dir, "events"), "ts", "1 hour", Seq(
          Expectations.notNull("props"),
          Expectations.inRange("value", 0L, 400L),
          Expectations.inSet("event_type",
            Seq("click", "error", "purchase", "signup", "view"))))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("rule"), col("column"), col("n_violations"), col("n_rows"),
          col("passed"))
        .orderBy("window_start", "rule", "column")),
    // distribution drift between two snapshots (even vs odd event ids
    // stand in for two crawls): smoothed PSI per column, quantized so
    // sum-order ulps can't leak; ~0 expected on identically-distributed
    // halves — the spec plants a real shift to prove sensitivity
    "p6_drift" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val va = ev.filter(col("event_id") % 2 === 0)
      val vb = ev.filter(col("event_id") % 2 === 1)
      val vbucket = least(greatest(
          floor((col("value") - lit(0.0)) * lit(20) / lit(600.0)), lit(0.0)),
        lit(19.0)).cast("long")
      Profile.driftPsi(va, vb, vbucket, "value")
        .union(Profile.driftPsi(va, vb, col("event_type"), "event_type"))
        .orderBy("metric")
    }),
    // CONTINUOUS drift monitor: PSI per event-time hour vs a fixed
    // reference sample, bucket domain = union of both supports, one
    // row per window out; psi_q is an exact integer sum of per-bucket
    // fixed-point terms (no float accumulation order anywhere)
    "p7_drift_windowed" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val ref = ev.filter(col("event_id") % 10 < 3)
      val vbucket = least(greatest(
          floor((col("value") - lit(0.0)) * lit(20) / lit(600.0)), lit(0.0)),
        lit(19.0)).cast("long")
      Profile.driftPsiWindowed(ev, "ts", "1 hour", ref, vbucket, "value")
        .orderBy("window_start")
    }),
    // robust per-group outlier audit: lower-median / MAD in exact
    // integer cents — deterministic under any partitioning, so the
    // oracle replays the whole estimator, fence included
    // FD profiling (r9, late): exact g3 violation counts for three
    // candidate dependencies over events — the unique key holds, the
    // behavioral ones fail with measured error; two map-side-reducible
    // aggregations per pair
    "p9_fd_profile" -> ((s, dir) =>
      Profile.fdProfile(T(s, dir, "events"), Seq(
          ("event_id", "event_type"),
          ("user_id", "event_type"),
          ("event_type", "user_id")))
        .orderBy("determinant", "dependent")),
    "p8_outliers" -> ((s, dir) =>
      Profile.robustOutliers(T(s, dir, "events"), "event_type", "value",
          k = 5)
        .orderBy("event_type")),
    // join-key skew audit (r10): per candidate key the heaviest key's
    // exact row share in ppm — event_type (5 keys) trips the salt
    // threshold, user_id does not; the pre-flight report that decides
    // salting/AQE-skew handling before a 100 TB join runs
    "p11_skew_audit" -> ((s, dir) =>
      Profile.skewAudit(T(s, dir, "events"),
          Seq("event_type", "user_id"), riskPpm = 100000L)
        .orderBy("column")),
    // k-anonymity audit (r10): equivalence-class sizes over the
    // (segment, balance-band) quasi-identifiers — classes under k=5
    // re-identify their members; band offset keeps the floor-division
    // operand non-negative (the DuckDB `//` negative trap)
    "p10_kanon" -> ((s, dir) =>
      Profile.kAnonymity(
          T(s, dir, "customer").withColumn("bal_band",
            floor((col("c_acctbal") + 1000.0) / 2000.0).cast("long")),
          Seq("c_mktsegment", "bal_band"), k = 5)
        .orderBy(col("c_mktsegment").asc_nulls_first,
          col("bal_band").asc_nulls_first)),
    // equi-width histogram: at most `bins` rows out however large the
    // table; bucket arithmetic mirrored literally in the oracle
    "p4_histogram" -> ((s, dir) =>
      Profile.histogram(T(s, dir, "events"), "value",
          bins = 20, lo = 0.0, hi = 600.0)
        .orderBy("bucket")),
    // declarative data-quality gate: five constraints audited in ONE
    // scan + one aggregation row, unpivoted to a row per check (the
    // in_range bound is deliberately tight so violations report real
    // numbers, not just zeros)
    "p3_expectations" -> ((s, dir) =>
      Expectations.audit(T(s, dir, "documents"), Seq(
          Expectations.notNull("text"),
          Expectations.unique("doc_id"),
          Expectations.inRange("n_chars", 1L, 200L),
          Expectations.inSet("lang", Seq("de", "en", "es", "fr", "zh")),
          Expectations.nonEmpty("text")))
        .orderBy("rule", "column")),

    // ---- §2.7 multimodal --------------------------------------------
    // the full container-sniffing feature pass as ONE declarative
    // projection (PNG/JPEG/RIFF header walks + PCM-16 stats as
    // codegen'd folds — no UDF, no mapPartitions); spec'd equal to
    // the JVM reference parsers record for record
    "m1_multimodal" -> ((s, dir) =>
      Multimodal.mediaFeatures(Multimodal.fromDocuments(T(s, dir, "documents")))
        .select(col("doc_id"), col("byte_len"), col("mean_byte"),
          col("detected_fmt"), col("width"), col("height"),
          col("sample_rate"), col("duration_ms"),
          col("pcm_samples"), col("pcm_sum"), col("pcm_peak"),
          col("n_frames"))
        .orderBy("doc_id")),
    // patch featurization of an opaque binary column — the ViT-tiling
    // / audio-chunking plumbing, entirely codegen'd (binary substr
    // slices, hex-pair byte extraction, an aggregate-fold hash): no
    // UDF, no mapPartitions, parallel across payloads. The oracle
    // replays the byte arithmetic exactly.
    "m2_patches" -> ((s, dir) =>
      Multimodal.patchFeatures(
          T(s, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("media")),
          "doc_id", "media", patchBytes = 64)
        .orderBy("doc_id", "patch_idx")),

    // audio framing over the REAL WAV containers: fixed windows of
    // PCM-16 samples decoded declaratively (hex pairs, sign fold),
    // exact integer acoustics per frame; the oracle runs the same
    // arithmetic on the payload the container wraps
    "m3_audio_frames" -> ((s, dir) =>
      Multimodal.audioFrames(
          Multimodal.fromDocuments(T(s, dir, "documents"))
            .where(col("fmt") === "wav"),
          frameSamples = 256)
        .orderBy("doc_id", "frame_idx")),
    // energy-gated VAD segmentation (r10): 16-sample frames, active
    // iff mean per-sample energy ≥ 6.6e8 (an exact integer compare),
    // consecutive active frames merged into segments by the
    // gaps-and-islands rank trick — the keep-the-speech pass before
    // transcription; ~47% of frames are active at this gate, so the
    // islands are real
    "m7_vad_segments" -> ((s, dir) =>
      Multimodal.voiceSegments(
          Multimodal.fromDocuments(T(s, dir, "documents"))
            .where(col("fmt") === "wav"),
          frameSamples = 16, meanEnergyThreshold = 660000000L)
        .orderBy("doc_id", "seg_id")),
    // VIDEO FRAME SAMPLING (r9): every doc becomes a real RIFF/AVI-
    // shaped container (LIST movi + 00db frame chunks, assembled
    // declaratively); frameSample parses the movi stream FROM THE
    // BYTES (frame length out of the first chunk header) and keeps
    // every 2nd frame — the "sample 1 fps for the encoder" primitive.
    // The oracle slices the utf-8 payload directly, so a wrong chunk
    // offset or header read on the engine side hash-mismatches
    "m4_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(
          Multimodal.fromDocumentsVideo(T(s, dir, "documents")), stride = 2)
        .orderBy("doc_id", "frame_idx")),
    // NEAREST-NEIGHBOR RESIZE (r9): raw grayscale bitmaps (dimensions
    // as typed metadata, pixels a clean payload prefix) downsampled
    // 2x — out(y,x) = in(2y,2x), exact integer features incl. the
    // row-major rolling hash (one transposed index mismatches)
    "m5_resize" -> ((s, dir) =>
      Multimodal.resizeNearest(
          Multimodal.fromDocumentsBitmap(T(s, dir, "documents")), factor = 2)
        .orderBy("doc_id")),
    // PERCEPTUAL near-dup (r9): dHash gradient-sign bits over the
    // 9×8-sampled bitmaps, 4×16-bit banding for candidates (the d2
    // discipline on image bytes), exact popcount verify — pigeonhole
    // guarantees no pair within Hamming 3 is missed. The oracle
    // replays sampling, MSB-first packing, banding, and popcount;
    // one flipped bit or transposed sample index mismatches
    "m6_dhash_neardup" -> ((s, dir) =>
      Multimodal.dhashNearDup(
          Multimodal.fromDocumentsBitmap(T(s, dir, "documents")),
          maxHamming = 3)
        .orderBy("a_id", "b_id")),

    // ---- §2.8 file layout & data skipping ---------------------------
    // Iceberg-style manifest pruning: cluster events by user_id into a
    // 16-file range layout, build a footer-stats manifest (a
    // metadata-only read — no data pages touched), answer a ranged
    // query opening ONLY files whose [min,max] intersects the
    // predicate. The oracle is the plain full-scan filter: pruning
    // must lose nothing. ManifestSpec asserts the scan really skipped.
    // COPY-ON-WRITE DML: delete/update rewrite ONLY the files whose
    // [min,max] intersects the predicate — every other file's entry
    // (and its bytes) carries verbatim, zero IO; the returned manifest
    // IS the post-DML table
    "f6_delete_cow" -> ((s, dir) => {
      val tmp = layoutDir("f6", dir)
      FileManifest.writeLayout(T(s, dir, "events"), s"$tmp/t", "user_id", 16)
      val m = FileManifest.buildManifest(s, s"$tmp/t", "user_id")
      val m2 = FileManifest.deleteRange(s, m, "user_id", 10L, 30L, s"$tmp/rw")
      FileManifest.readAll(s, m2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("event_id")).as("sum_ids"))
        .orderBy("event_type")
    }),
    // MERGE-ON-READ DELETE — the other side of the Iceberg-v2 design
    // axis from f6's copy-on-write: the delete writes ONE tiny
    // equality-delete sidecar (O(keys) IO, independent of table
    // size), reads anti-join it until compaction folds it in. Same
    // final relation as f6, so the oracle is shared shape-for-shape;
    // the spec additionally pins MoR == CoW, zero data-file IO at
    // delete time, and compaction rewriting only intersecting files.
    // SQL FRONT DOOR for the table format (DataSource `graft`): the
    // committed catalog becomes a TABLE — CREATE TABLE ... USING
    // graft, then plain SQL. The custom FileIndex answers the file
    // listing FROM the manifest snapshot, so the range predicate on
    // the clustering column prunes files and the partition predicate
    // prunes directories before any data file opens (PlanShapeSpec
    // asserts PushedFilters + the pruned file count); the scan itself
    // is Spark's native vectorized parquet path
    "f14_sql_front_door" -> ((s, dir) => {
      val tmp = layoutDir("f14", dir)
      val ev = T(s, dir, "events")
      FileManifest.writePartitionedLayout(ev, s"$tmp/t", "event_type",
        "user_id", 16)
      val pm = FileManifest.buildPartitioned(s, s"$tmp/t", "user_id")
      FileManifest.commitVersion(s, pm, s"$tmp/cat")
      s.sql("DROP TABLE IF EXISTS f14_events")
      s.sql(s"CREATE TABLE f14_events USING graft " +
        s"OPTIONS (path '$tmp/cat')")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f14_events
        |WHERE user_id BETWEEN 100 AND 160 AND event_type <> 'view'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // the front door's WRITE path: create + append each cluster a
    // batch, footer-stat only the new files, and commit the next
    // catalog version atomically; the read is the same pruned native
    // scan as f14. INSERT INTO is REFUSED loudly (it would drop files
    // behind the manifest — silent row loss; spec-pinned)
    "f15_sql_write" -> ((s, dir) => {
      val tmp = layoutDir("f15", dir)
      val root = s"$tmp/cat"
      val ev = T(s, dir, "events")
      ev.where(col("user_id") < 7).write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "12")
        .mode("overwrite").save()
      ev.where(col("user_id") >= 7).write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "12")
        .mode("append").save()
      s.sql("DROP TABLE IF EXISTS f15_events")
      s.sql(s"CREATE TABLE f15_events USING graft OPTIONS (path '$root')")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f15_events
        |WHERE user_id BETWEEN 2 AND 120
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // BRANCHES & TAGS over the version store (r9, late): tag the
    // release version, branch `main` past it, advance main again,
    // then expire with keepLast=1 — the tag PINS its snapshot (the
    // Iceberg refs contract), so the release read survives expiry
    // bit-for-bit while the unpinned middle version is reclaimed
    // SQL-surface DML parity (r10): plain INSERT INTO through the
    // front door — the generic file insert writes into the index's
    // STAGING rootPath, and the post-write refresh() adopts-by-move
    // + commits the next catalog version atomically; the read-back
    // union must equal the source relation
    "f19_sql_insert" -> ((s, dir) => {
      val tmp = layoutDir("f19", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
      ev.where(col("user_id") < 7).write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "12")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS f19_events")
      s.sql(s"CREATE TABLE f19_events USING graft OPTIONS (path '$root')")
      ev.where(col("user_id") >= 7)
        .select(s.table("f19_events").columns.map(col).toIndexedSeq: _*)
        .createOrReplaceTempView("f19_src")
      s.sql("INSERT INTO f19_events SELECT * FROM f19_src")
      require(FileManifest.latestVersion(s, root).contains(1L),
        "the INSERT must have committed exactly one new version")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f19_events
        |WHERE user_id BETWEEN 2 AND 120
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // SQL-surface ROW-LEVEL DML (r11) — `DELETE FROM t WHERE …`
    // through the front door: the post-hoc resolution rule
    // (plans/GraftDml.scala) replaces the resolved DeleteFromTable
    // with the engine's two-phase CoW command (prune via the index's
    // own listing seam → touch-detect via input_file_name → rewrite
    // only touched files → one atomic catalog version). The predicate
    // spans the partition column (directory pruning), the clustering
    // column (footer pruning), and a plain data column (the residual
    // only the touch scan can decide). Pre-DML versions stay
    // time-travelable (GraftDmlSpec pins that plus the refusals).
    "f22_sql_delete" -> ((s, dir) => {
      val tmp = layoutDir("f22", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "12")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS f22_events")
      s.sql(s"CREATE TABLE f22_events USING graft OPTIONS (path '$root')")
      s.sql("DELETE FROM f22_events WHERE event_type = 'click' " +
        "AND user_id BETWEEN 3 AND 9 AND value > 5")
      require(FileManifest.latestVersion(s, root).contains(1L),
        "the DELETE must have committed exactly one new version")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f22_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // SQL UPDATE through the front door — same CoW command with the
    // per-column `when(cond, new).otherwise(old)` rewrite; rows whose
    // condition is NULL keep their value (the SQL UPDATE contract the
    // oracle's CASE mirrors). Updating the partition or clustering
    // column refuses loudly (rewritten rows could leave their
    // directory/file key range).
    "f23_sql_update" -> ((s, dir) => {
      val tmp = layoutDir("f23", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "12")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS f23_events")
      s.sql(s"CREATE TABLE f23_events USING graft OPTIONS (path '$root')")
      s.sql("UPDATE f23_events SET value = value * 2 + 1 " +
        "WHERE event_type IN ('view', 'error') AND user_id BETWEEN 2 AND 8")
      require(FileManifest.latestVersion(s, root).contains(1L),
        "the UPDATE must have committed exactly one new version")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f23_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // SQL OPTIMIZE (plans/GraftMaintenance.scala) — compaction through
    // the front door, committed as a real catalog version: per
    // partition, files bin-pack to the row target in cluster-key
    // order; single-file bins carry with zero IO; pre-OPTIMIZE
    // versions stay time-travelable. Pure layout: the aggregate is
    // the invariant the oracle checks
    "f25_sql_optimize" -> ((s, dir) => {
      val tmp = layoutDir("f25", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "24")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS f25_events")
      s.sql(s"CREATE TABLE f25_events USING graft OPTIONS (path '$root')")
      val before = FileManifest.loadLatest(s, root)
        .partitions.values.map(_.size).sum
      val n = ev.count()
      s.sql(s"OPTIMIZE f25_events TARGET ${math.max(1L, n / 4)} ROWS")
      require(FileManifest.latestVersion(s, root).contains(1L),
        "OPTIMIZE must commit exactly one new version")
      val after = FileManifest.loadLatest(s, root)
        .partitions.values.map(_.size).sum
      require(after < before,
        s"OPTIMIZE must shrink the file count ($before -> $after)")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f25_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // SQL VACUUM — retention through the front door: expire history
    // beyond RETAIN n (never the latest, never a ref-pinned
    // snapshot), then sweep data files no kept version references.
    // The entry proves a file retired by a CoW DELETE physically
    // leaves the disk while the live table is untouched
    "f26_sql_vacuum" -> ((s, dir) => {
      val tmp = layoutDir("f26", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "12")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS f26_events")
      s.sql(s"CREATE TABLE f26_events USING graft OPTIONS (path '$root')")
      s.sql("DELETE FROM f26_events " +
        "WHERE user_id BETWEEN 3 AND 9 AND value > 5")
      val v0Files = FileManifest.loadVersion(s, root, 0L)
        .partitions.values.flatten.map(_.path).toSet
      val v1Files = FileManifest.loadVersion(s, root, 1L)
        .partitions.values.flatten.map(_.path).toSet
      val retired = (v0Files -- v1Files).toSeq.sorted
      require(retired.nonEmpty, "the DELETE must have retired files")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(retired.forall(p =>
        fs.exists(new org.apache.hadoop.fs.Path(p))),
        "retired files must still exist before VACUUM (v0 references them)")
      s.sql("VACUUM f26_events RETAIN 1 VERSIONS")
      require(retired.forall(p =>
        !fs.exists(new org.apache.hadoop.fs.Path(p))),
        "VACUUM must delete the files only the expired v0 referenced")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f26_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // SQL TIME TRAVEL through the front door (plans/GraftTimeTravel
    // .scala) — `VERSION AS OF` on a graft table: Spark parses the
    // temporal clause but its analyzer supports it only for DSv2
    // catalogs (v1 throws UNSUPPORTED_FEATURE.TIME_TRAVEL during
    // resolution, before any injected rule runs), so the injected
    // parser rewrites the RelationTimeTravel node into the graft
    // relation pinned at that version (the loadVersion surface;
    // TIMESTAMP AS OF rides the same seam via loadAsOf). The entry
    // reads the SAME table at v0 and at head IN ONE STATEMENT after a
    // CoW DELETE — the pre-DML snapshot must serve bit-identically
    "f27_sql_time_travel" -> ((s, dir) => {
      val tmp = layoutDir("f27", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "12")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS f27_events")
      s.sql(s"CREATE TABLE f27_events USING graft OPTIONS (path '$root')")
      s.sql("DELETE FROM f27_events WHERE event_type = 'purchase' " +
        "AND user_id BETWEEN 10 AND 40")
      require(FileManifest.latestVersion(s, root).contains(1L),
        "the DELETE must have committed exactly one new version")
      s.sql("""SELECT snap, event_type, n_events, total_value, sum_ids
        |FROM (
        |  SELECT 'v0' AS snap, event_type, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_value,
        |    sum(event_id) AS sum_ids
        |  FROM f27_events VERSION AS OF 0 GROUP BY event_type
        |  UNION ALL
        |  SELECT 'head', event_type, count(*),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |    sum(event_id)
        |  FROM f27_events GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin)
    }),
    // CTAS through the front door — `CREATE TABLE … USING graft
    // OPTIONS (…) AS SELECT …`: Spark's v1 CTAS command drives the
    // same CreatableRelationProvider the DataFrame writer uses, so
    // table-creation-from-query needs no new machinery — the query
    // result lands as catalog version 0 (partitioned, cluster-sorted,
    // footer-stat'ed) and the new table serves the same pruned scans
    "f28_sql_ctas" -> ((s, dir) => {
      val tmp = layoutDir("f28", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      T(s, dir, "events").createOrReplaceTempView("f28_src_events")
      s.sql("DROP TABLE IF EXISTS f28_events")
      s.sql(s"""CREATE TABLE f28_events USING graft
        |OPTIONS (path '$root', partitionBy 'event_type',
        |  clusterBy 'user_id', files '8')
        |AS SELECT event_id, user_id, event_type, value
        |FROM f28_src_events WHERE user_id % 3 != 1""".stripMargin)
      require(FileManifest.latestVersion(s, root).contains(0L),
        "CTAS must land as catalog version 0")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f28_events
        |WHERE user_id BETWEEN 2 AND 150
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // DESCRIBE HISTORY through the front door — the retained version
    // chain as rows, computed from the committed manifests ONLY (no
    // data IO): live rows per version plus row churn vs predecessor,
    // `appended` flagging versions a plain tail (c10) can cross. The
    // history is fully derivable: files '1' makes the CoW DELETE
    // partition-granular (a touched partition's whole single file
    // retires, its survivors rewrite), so DuckDB re-derives every
    // churn count from the predicates alone
    "f29_sql_history" -> ((s, dir) => {
      val tmp = layoutDir("f29", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      def save(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
        df.write.format("graft").option("path", root)
          .option("partitionBy", "event_type")
          .option("clusterBy", "user_id").option("files", "1")
          .mode(mode).save()
      save(ev, "overwrite") // v0: one file per partition
      s.sql("DROP TABLE IF EXISTS f29_events")
      s.sql(s"CREATE TABLE f29_events USING graft OPTIONS (path '$root')")
      s.sql("DELETE FROM f29_events WHERE user_id % 7 = 3") // v1: CoW
      val mx = ev.agg(max("event_id")).head.getLong(0)
      save(ev.where(col("user_id") < 4)
        .select((col("event_id") + mx + 1).as("event_id"), col("user_id"),
          col("event_type"), col("value")), "append") // v2: append
      s.sql("DESCRIBE HISTORY f29_events")
        .select("version", "operation", "n_rows", "rows_added",
          "rows_removed", "appended")
        .orderBy("version")
    }),
    // RESTORE through the front door — `RESTORE TABLE t TO VERSION AS
    // OF n` (the Delta statement): rollback lands as a NEW commit (the
    // f11 discipline), so nothing in the chain is rewritten — the one
    // statement reads the restored head AND the mistake version it
    // rolled back (still time-travelable until retention expires it)
    "f31_sql_restore" -> ((s, dir) => {
      val tmp = layoutDir("f31", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "8")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS f31_events")
      s.sql(s"CREATE TABLE f31_events USING graft OPTIONS (path '$root')")
      s.sql("DELETE FROM f31_events WHERE user_id % 5 = 2") // the mistake
      s.sql("RESTORE TABLE f31_events TO VERSION AS OF 0")
      require(FileManifest.latestVersion(s, root).contains(2L),
        "RESTORE must land as a new commit, never rewrite the chain")
      s.sql("""SELECT snap, event_type, n_events, total_value, sum_ids
        |FROM (
        |  SELECT 'head' AS snap, event_type, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_value,
        |    sum(event_id) AS sum_ids
        |  FROM f31_events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'mistake', event_type, count(*),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |    sum(event_id)
        |  FROM f31_events VERSION AS OF 1 GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin)
    }),
    // CATALOG-TRACKED SCHEMA EVOLUTION — `ALTER TABLE t ADD COLUMN c
    // <type>` (the Iceberg discipline: schema lives in the catalog,
    // never rewritten into files): the evolution commits as a labeled
    // version carrying the evolved schema in its _meta; reads at the
    // head serve the new column with pre-evolution files null-filled
    // by the parquet reader (zero data IO for the ALTER), INSERTs
    // carry it for real, and an UPDATE backfills it onto pre-evolution
    // rows (the CoW rewrite reads schema-PINNED, so it upgrades the
    // files it touches instead of failing on the mixed layout). Time
    // travel before the evolution serves the pre-evolution schema —
    // epoch-correct by construction (spec-pinned)
    "f32_sql_add_column" -> ((s, dir) => {
      val tmp = layoutDir("f32", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.where(col("user_id") < 8).write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "4")
        .mode("overwrite").save() // v0
      s.sql("DROP TABLE IF EXISTS f32_events")
      s.sql(s"CREATE TABLE f32_events USING graft OPTIONS (path '$root')")
      s.sql("ALTER TABLE f32_events ADD COLUMN bonus BIGINT") // v1
      ev.where(col("user_id") >= 8)
        .select(col("event_id"), col("user_id"), col("value"),
          (col("user_id") * 10).as("bonus"), col("event_type"))
        .createOrReplaceTempView("f32_src")
      s.sql("INSERT INTO f32_events SELECT * FROM f32_src") // v2
      s.sql("UPDATE f32_events SET bonus = user_id * 10 " + // v3: backfill
        "WHERE user_id < 4")
      require(FileManifest.latestVersion(s, root).contains(3L),
        "expected create + add-column + insert + update versions")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  count(bonus) AS n_bonus, sum(bonus) AS sum_bonus,
        |  sum(event_id) AS sum_ids
        |FROM f32_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // LAZY DROP COLUMN (r12) — `ALTER TABLE t DROP COLUMN c` on the
    // f32 schema-pinned read discipline: the narrowed schema commits
    // as a catalog version (zero data IO); head reads project the
    // column away, pre-drop time travel serves the wide epoch, and a
    // post-drop CoW DELETE rewrites its touched files physically shed
    // of the column (spec-pinned). One statement reads BOTH epochs
    "f33_sql_drop_column" -> ((s, dir) => {
      val tmp = layoutDir("f33", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "4")
        .mode("overwrite").save() // v0
      s.sql("DROP TABLE IF EXISTS f33_events")
      s.sql(s"CREATE TABLE f33_events USING graft OPTIONS (path '$root')")
      s.sql("ALTER TABLE f33_events DROP COLUMN value") // v1: metadata only
      s.sql("DELETE FROM f33_events WHERE user_id = 3") // v2: post-drop CoW
      require(!s.table("f33_events").columns.contains("value"),
        "the dropped column must vanish from head reads")
      require(FileManifest.latestVersion(s, root).contains(2L),
        "expected create + drop-column + delete versions")
      s.sql("""SELECT snap, event_type, n_events, sum_ids, total_value
        |FROM (
        |  SELECT 'head' AS snap, event_type, count(*) AS n_events,
        |    sum(event_id) AS sum_ids, CAST(NULL AS DOUBLE) AS total_value
        |  FROM f33_events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'pre', event_type, count(*), sum(event_id),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM f33_events VERSION AS OF 0 GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin)
    }),
    // TYPE WIDENING (r12) — `ALTER TABLE t ALTER COLUMN c TYPE
    // <wider>`: the widened schema commits as a catalog version (zero
    // data IO); every pinned read upcasts old files' narrower physical
    // type via Spark 4's parquet widening updaters (INT→BIGINT here),
    // new writes carry the wide type physically — the INSERT lands
    // values beyond INT32 range, only representable post-widening —
    // and a DML rewrite upgrades the files it touches. Pre-widening
    // time travel serves the narrow epoch (spec-pinned); narrowing and
    // non-widenable changes refuse
    "f35_sql_widen_column" -> ((s, dir) => {
      val tmp = layoutDir("f35", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value").cast("int").as("score"))
      ev.where(col("user_id") < 8).write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "4")
        .mode("overwrite").save() // v0: score is INT32
      s.sql("DROP TABLE IF EXISTS f35_events")
      s.sql(s"CREATE TABLE f35_events USING graft OPTIONS (path '$root')")
      s.sql("ALTER TABLE f35_events ALTER COLUMN score TYPE BIGINT") // v1
      ev.where(col("user_id") >= 8)
        .select(col("event_id"), col("user_id"),
          (col("score").cast("long") + 3000000000L).as("score"),
          col("event_type"))
        .createOrReplaceTempView("f35_src")
      s.sql("INSERT INTO f35_events SELECT * FROM f35_src") // v2: wide rows
      s.sql("UPDATE f35_events SET score = score + 1 " + // v3: upgrade
        "WHERE user_id = 2")
      require(FileManifest.latestVersion(s, root).contains(3L),
        "expected create + widen + insert + update versions")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  sum(score) AS sum_score, min(score) AS min_score,
        |  max(score) AS max_score, sum(event_id) AS sum_ids
        |FROM f35_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // METADATA-ONLY COUNT(*) (r12) — the Delta/Iceberg answer-from-
    // the-log optimization: an unfiltered ungrouped count over a
    // graft table folds the committed manifest's exact per-file row
    // counts (maintained by every committing site, incl. the CoW
    // DELETE here) — the entry asserts STRUCTURALLY that neither the
    // head count nor the pinned-snapshot count planned a single file
    // scan, then the oracle checks the values
    "f36_metadata_count" -> ((s, dir) => {
      val tmp = layoutDir("f36", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "8")
        .mode("overwrite").save() // v0
      s.sql("DROP TABLE IF EXISTS f36_events")
      s.sql(s"CREATE TABLE f36_events USING graft OPTIONS (path '$root')")
      s.sql("DELETE FROM f36_events WHERE user_id % 4 = 1") // v1: CoW
      val head = s.sql("SELECT count(*) AS n_rows FROM f36_events")
        .select(lit("head").as("snap"), col("n_rows"))
      val v0 = s.sql(
        "SELECT count(*) AS n_rows FROM f36_events VERSION AS OF 0")
        .select(lit("v0").as("snap"), col("n_rows"))
      val df = head.unionByName(v0).orderBy("snap")
      // the optimized plan must hold NO relation scan at all — both
      // counts answered from manifest metadata (the physical plan
      // hides inside AdaptiveSparkPlanExec, so assert on the logical)
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources
          .LogicalRelation => r }
      require(scans.isEmpty,
        s"metadata COUNT(*) must plan ZERO table scans, found ${scans.size}")
      df
    }),
    // MERGE WITH SCHEMA EVOLUTION (r12) — the Delta statement,
    // composed from committed pieces: source columns absent from the
    // target commit as an f32 ADD COLUMN evolution (every existing
    // row null-fills), then the stripped MERGE runs against the
    // evolved schema — matched rows and inserts carry the new column
    // for real, unmatched target rows stay NULL. Type CHANGES refuse
    // (spec-pinned). The ON clause pins both layout keys so SET *
    // passes the key-identity gate
    "f34_merge_evolution" -> ((s, dir) => {
      val tmp = layoutDir("f34", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "event_id").option("files", "8")
        .mode("overwrite").save() // v0
      s.sql("DROP TABLE IF EXISTS f34_events")
      s.sql(s"CREATE TABLE f34_events USING graft OPTIONS (path '$root')")
      ev.createOrReplaceTempView("f34_src_events")
      s.sql("""CREATE OR REPLACE TEMP VIEW f34_chg AS
        |SELECT event_id, user_id, event_type, value * 2 AS value,
        |       user_id * 100 + 7 AS bonus
        |FROM f34_src_events WHERE user_id BETWEEN 4 AND 9
        |UNION ALL
        |SELECT event_id + 200000000 AS event_id, user_id, event_type,
        |       value + 1.5 AS value, user_id * 100 + 9 AS bonus
        |FROM f34_src_events WHERE user_id BETWEEN 1 AND 3""".stripMargin)
      s.sql("""MERGE WITH SCHEMA EVOLUTION INTO f34_events t
        |USING f34_chg s
        |ON t.event_id = s.event_id AND t.event_type = s.event_type
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(s.table("f34_events").columns.contains("bonus"),
        "the evolution must add the new source column")
      require(FileManifest.latestVersion(s, root).contains(2L),
        "expected create + add-column + merge versions")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  count(bonus) AS n_bonus, sum(bonus) AS sum_bonus,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f34_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // RENAME COLUMN on the FIELD-ID substrate (r13, f37) — names are
    // labels, ids are identity (the Iceberg discipline): every
    // front-door CREATE commits a field-id-mapped schema and every
    // write embeds the ids into its parquet files, so the rename is a
    // catalog-only commit (zero data IO) and reads resolve old files'
    // OLD physical name by id under the NEW name. The INSERT lands
    // new-name files, the UPDATE's CoW rewrite upgrades the old files
    // it touches, and pre-rename time travel still reads the old name
    // from the same bytes — one statement reads BOTH epochs. The same
    // substrate kills the r12 drop-then-re-add resurrection: a
    // re-added name mints a FRESH id that can never match retired
    // bytes (spec-pinned in FieldIdSpec)
    "f37_sql_rename_column" -> ((s, dir) => {
      val tmp = layoutDir("f37", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.where(col("user_id") < 8).write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "4")
        .mode("overwrite").save() // v0: column is `value`
      s.sql("DROP TABLE IF EXISTS f37_events")
      s.sql(s"CREATE TABLE f37_events USING graft OPTIONS (path '$root')")
      s.sql("ALTER TABLE f37_events RENAME COLUMN value TO amount") // v1
      ev.where(col("user_id") >= 8)
        .select(col("event_id"), col("user_id"),
          col("value").as("amount"), col("event_type"))
        .createOrReplaceTempView("f37_src")
      s.sql("INSERT INTO f37_events SELECT * FROM f37_src") // v2: new name
      s.sql("UPDATE f37_events SET amount = amount + 1 " + // v3: upgrades
        "WHERE user_id = 2") //     old-name files it touches, by id
      require(FileManifest.latestVersion(s, root).contains(3L),
        "expected create + rename + insert + update versions")
      s.sql("""SELECT snap, event_type, n_events, total_amount, sum_ids
        |FROM (
        |  SELECT 'head' AS snap, event_type, count(*) AS n_events,
        |    CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_amount,
        |    sum(event_id) AS sum_ids
        |  FROM f37_events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'pre', event_type, count(*),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |    sum(event_id)
        |  FROM f37_events VERSION AS OF 0 GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin)
    }),
    // METADATA-ONLY MIN/MAX + PARTITION-FILTERED COUNT (r13, f38) —
    // extending the f36 answer-from-the-log surface: the manifest's
    // footer ranges answer an unfiltered min/max of the CLUSTERING
    // column (sound under NULLs: the builder refuses a file without a
    // non-null value, and SQL min/max ignore NULLs), and a
    // partition-only predicate decides whole directories EXACTLY
    // (directory encoding makes partition pruning sufficient, not
    // just necessary). Both snaps assert STRUCTURALLY that no file
    // scan was planned; the oracle checks the values
    "f38_metadata_stats" -> ((s, dir) => {
      val tmp = layoutDir("f38", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "8")
        .mode("overwrite").save() // v0
      s.sql("DROP TABLE IF EXISTS f38_events")
      s.sql(s"CREATE TABLE f38_events USING graft OPTIONS (path '$root')")
      s.sql("DELETE FROM f38_events WHERE user_id % 4 = 1") // v1: CoW
      val head = s.sql("""SELECT count(*) AS n_rows,
        |  min(user_id) AS min_k, max(user_id) AS max_k
        |FROM f38_events""".stripMargin)
        .select(lit("head").as("snap"), col("n_rows"),
          col("min_k"), col("max_k"))
      val part = s.sql("""SELECT count(*) AS n_rows,
        |  min(user_id) AS min_k, max(user_id) AS max_k
        |FROM f38_events WHERE event_type = 'click'""".stripMargin)
        .select(lit("click").as("snap"), col("n_rows"),
          col("min_k"), col("max_k"))
      val df = head.unionByName(part).orderBy("snap")
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources
          .LogicalRelation => r }
      require(scans.isEmpty,
        s"metadata MIN/MAX/COUNT must plan ZERO table scans, found " +
          s"${scans.size}")
      df
    }),
    // SQL `OPTIMIZE t TARGET n ROWS ZORDER BY (x, y)` (r13, f39) —
    // Delta's ZORDER through the f25 maintenance seam, wiring
    // sources/ZOrder's Morton interleave into the catalog: every live
    // file rewrites in ONE distributed job (range exchange on
    // (partition, z), rows never leave their directory), committed as
    // an atomic version — pure layout, so the aggregate is the
    // invariant the oracle checks, every prior version stays
    // time-travelable, and file-level ranges tighten on BOTH
    // dimensions (the pruning-power gain is spec-pinned in
    // ZOrderOptimizeSpec)
    "f39_sql_optimize_zorder" -> ((s, dir) => {
      val tmp = layoutDir("f39", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "8")
        .mode("overwrite").save() // v0: 1-D layout on user_id
      s.sql("DROP TABLE IF EXISTS f39_events")
      s.sql(s"CREATE TABLE f39_events USING graft OPTIONS (path '$root')")
      s.sql("OPTIMIZE f39_events TARGET 4096 ROWS " +
        "ZORDER BY (user_id, event_id)") // v1: 2-D layout
      require(FileManifest.latestVersion(s, root).contains(1L),
        "expected create + zorder versions")
      s.sql("""SELECT snap, event_type, n_events, total_value, sum_ids
        |FROM (
        |  SELECT 'head' AS snap, event_type, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_value,
        |    sum(event_id) AS sum_ids
        |  FROM f39_events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'pre', event_type, count(*),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |    sum(event_id)
        |  FROM f39_events VERSION AS OF 0 GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin)
    }),
    // METADATA-ONLY GROUP BY PARTITION (r13, f41) — Spark's own
    // OptimizeMetadataOnlyQuery role, which never fires on a custom
    // FileIndex: an aggregate GROUPED BY partition columns only
    // (`SELECT p, count(*) … GROUP BY p`, `SELECT DISTINCT p`,
    // per-group min/max of the clustering column) answers from the
    // manifest — the groups ARE the directory keys, per-group folds
    // run over each key's entries, partition-only predicates decide
    // groups exactly. Both snaps assert STRUCTURALLY that no file
    // scan was planned; the oracle checks the values
    "f41_metadata_partitions" -> ((s, dir) => {
      val tmp = layoutDir("f41", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "8")
        .mode("overwrite").save() // v0
      s.sql("DROP TABLE IF EXISTS f41_events")
      s.sql(s"CREATE TABLE f41_events USING graft OPTIONS (path '$root')")
      s.sql("DELETE FROM f41_events WHERE user_id % 4 = 1") // v1: CoW
      val grouped = s.sql("""SELECT event_type, count(*) AS n_rows,
        |  min(user_id) AS min_k, max(user_id) AS max_k
        |FROM f41_events GROUP BY event_type""".stripMargin)
        .select(lit("head").as("snap"), col("event_type"),
          col("n_rows"), col("min_k"), col("max_k"))
      val filtered = s.sql("""SELECT event_type, count(*) AS n_rows,
        |  min(user_id) AS min_k, max(user_id) AS max_k
        |FROM f41_events WHERE event_type IN ('click', 'view')
        |GROUP BY event_type""".stripMargin)
        .select(lit("flt").as("snap"), col("event_type"),
          col("n_rows"), col("min_k"), col("max_k"))
      val df = grouped.unionByName(filtered)
        .orderBy("snap", "event_type")
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources
          .LogicalRelation => r }
      require(scans.isEmpty,
        s"metadata GROUP BY partition must plan ZERO table scans, " +
          s"found ${scans.size}")
      df
    }),
    // WRITE-TIME CONSTRAINTS (r14, f45) — `ALTER TABLE t ADD
    // CONSTRAINT n CHECK (expr)` + `ALTER COLUMN c SET NOT NULL` (the
    // Delta statements): existing rows validate at declaration, the
    // constraint commits into version meta (inherited by every later
    // commit), and every batch-landing seam — INSERT adoption, writer
    // append, UPDATE/MERGE, streaming sink — gates on ONE aggregate
    // scan of the BATCH, refusing ATOMICALLY (files are invisible
    // until the commit the refusal prevents). The entry proves the
    // refusal left the table byte-identical, then lands a valid batch
    "f45_constraints" -> ((s, dir) => {
      val tmp = layoutDir("f45", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "8")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS f45_events")
      s.sql(s"CREATE TABLE f45_events USING graft OPTIONS (path '$root')")
      s.sql("ALTER TABLE f45_events ADD CONSTRAINT val_pos " +
        "CHECK (value >= 0)")
      s.sql("ALTER TABLE f45_events ALTER COLUMN user_id SET NOT NULL")
      val before = s.table("f45_events").count()
      val refused =
        try {
          s.sql("INSERT INTO f45_events SELECT CAST(-1 AS BIGINT), " +
            "CAST(7 AS BIGINT), CAST(-5.0 AS DOUBLE), 'click'")
          false
        } catch { case e: Exception =>
          e.getMessage != null && e.getMessage.contains("val_pos") }
      require(refused, "the violating INSERT must refuse, naming the " +
        "constraint")
      require(s.table("f45_events").count() == before,
        "a refused batch must land NOTHING")
      val refusedUpd =
        try {
          s.sql("UPDATE f45_events SET value = -1.0 WHERE user_id = 3")
          false
        } catch { case e: Exception =>
          e.getMessage != null && e.getMessage.contains("val_pos") }
      require(refusedUpd && s.table("f45_events").count() == before,
        "the violating UPDATE must refuse atomically")
      s.sql("INSERT INTO f45_events SELECT CAST(-1 AS BIGINT), " +
        "CAST(7 AS BIGINT), CAST(5.0 AS DOUBLE), 'click'") // valid
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  sum(user_id) AS sum_uid,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM f45_events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
    }),
    // ANALYZE TABLE / CBO STATISTICS (r14, f44) — manifest-derived
    // CatalogStatistics: `ANALYZE TABLE t COMPUTE STATISTICS` answers
    // row count + byte size from the snapshot with ZERO data IO (the
    // entry pins the exact footer row count reaching Catalyst's plan
    // stats under CBO); FOR COLUMNS pays one aggregate job for
    // NDV/min-max/nulls, and the entry pins the planning consequence:
    // a selective-filter join flips to BroadcastHashJoin only because
    // the injected column stats shrink the filtered side's estimate
    "f44_analyze_stats" -> ((s, dir) => {
      val tmp = layoutDir("f44", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "user_id").option("files", "8")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS f44_events")
      s.sql(s"CREATE TABLE f44_events USING graft OPTIONS (path '$root')")
      val oldCbo = s.conf.getOption("spark.sql.cbo.enabled")
      val oldThr = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      val oldAqe = s.conf.getOption("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        // `big` is a FILE relation (a LocalRelation would have the
        // inferred join filter evaluated eagerly, shrinking it with
        // no stats at all); the filtered graft side joins against it
        val big = s.read.parquet(s"$dir/events.parquet")
          .select("user_id", "event_id")
        // the broadcast threshold is derived from the NO-STATS
        // estimates (half the smaller join side) so the premise —
        // un-analyzed ⇒ both sides over threshold ⇒ sort-merge —
        // holds at every scale factor; a fixed byte constant breaks
        // at SFs where the whole table is smaller than it
        val filtEst = s.table("f44_events").where(col("user_id") < 1)
          .queryExecution.optimizedPlan.stats.sizeInBytes
        val bigEst = big.queryExecution.optimizedPlan.stats.sizeInBytes
        val thr = (filtEst.min(bigEst) / 2).max(BigInt(1))
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", thr.toString)
        def flip = big.join(s.table("f44_events")
          .where(col("user_id") < 1), "user_id")
        def isBroadcast = flip.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.joins
            .BroadcastHashJoinExec => b }.nonEmpty
        require(!isBroadcast,
          "premise: with no statistics the filtered side estimates at " +
            "full size and must sort-merge")
        s.sql("ANALYZE TABLE f44_events COMPUTE STATISTICS") // zero IO
        val st = s.table("f44_events").queryExecution.optimizedPlan.stats
        val nRows = ev.count()
        require(st.rowCount.contains(BigInt(nRows)),
          s"exact manifest row count must reach Catalyst: " +
            s"${st.rowCount} vs $nRows")
        s.sql("ANALYZE TABLE f44_events COMPUTE STATISTICS " +
          "FOR COLUMNS user_id, value")
        val st2 = s.table("f44_events").queryExecution.optimizedPlan.stats
        require(st2.attributeStats.exists(_._1.name == "user_id"),
          "column stats must reach Catalyst")
        require(isBroadcast,
          "injected column stats must flip the filtered join to " +
            "broadcast")
      } finally {
        def restore(k: String, v: Option[String]): Unit = v match {
          case Some(x) => s.conf.set(k, x); case None => s.conf.unset(k)
        }
        restore("spark.sql.cbo.enabled", oldCbo)
        restore("spark.sql.autoBroadcastJoinThreshold", oldThr)
        restore("spark.sql.adaptive.enabled", oldAqe)
      }
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  sum(user_id) AS sum_uid,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM f44_events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
    }),
    // NESTED SCHEMA EVOLUTION (r14, f43) — ADD/RENAME/DROP of struct
    // SUBFIELDS on the field-id substrate, the struct-heavy event
    // table's everyday evolution: `ALTER TABLE t ADD COLUMN m.c
    // BIGINT` null-fills every pre-evolution file (the id-matched
    // reader finds no nested id), `RENAME COLUMN m.a TO uid` keeps the
    // subfield's id so old files' bytes keep resolving under the new
    // name, the CoW DELETE crosses the evolution re-stamping nested
    // ids into the files it rewrites, and the INSERT carries the new
    // subfield for real. All catalog-side: zero data IO for the ALTERs
    "f43_nested_evolution" -> ((s, dir) => {
      val tmp = layoutDir("f43", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          struct(col("user_id").as("a"), col("value").as("b")).as("m"))
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "event_id").option("files", "4")
        .mode("overwrite").save() // v0: nested ids minted at CREATE
      s.sql("DROP TABLE IF EXISTS f43_events")
      s.sql(s"CREATE TABLE f43_events USING graft OPTIONS (path '$root')")
      s.sql("ALTER TABLE f43_events ADD COLUMN m.c BIGINT") // v1
      s.sql("ALTER TABLE f43_events RENAME COLUMN m.a TO uid") // v2
      s.sql("DELETE FROM f43_events WHERE event_id % 7 = 3") // v3: CoW
      s.sql("INSERT INTO f43_events SELECT CAST(-1 AS BIGINT) " +
        "AS event_id, named_struct('uid', CAST(999 AS BIGINT), " +
        "'b', CAST(0.0 AS DOUBLE), 'c', CAST(42 AS BIGINT)) AS m, " +
        "'click' AS event_type") // v4: carries the added subfield
      s.sql("""SELECT event_type, count(*) AS n_rows,
        |  sum(m.uid) AS sum_uid, count(m.c) AS n_c
        |FROM f43_events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
    }),
    // ESCAPED PARTITION VALUES (r14, f42) — string partition values
    // carrying Hive-escaped characters, with the timestamp-shaped
    // `yyyy-MM-dd HH:mm:ss` day string (':' + space) as the everyday
    // trigger: the layout writer escapes them into directory names
    // (`day=2024-01-05 00%3A00%3A00`), the catalog keys stay in the
    // on-disk domain, and every decode back to logical values
    // unescapes — so the equality DELETE prunes-and-rewrites the right
    // leaf, the UPDATE routes into it, and the partition-only GROUP BY
    // answers from metadata (zero scans, spec-pinned here) with the
    // values the user wrote, not the `%3A`-escaped directory spelling
    "f42_escaped_partitions" -> ((s, dir) => {
      val tmp = layoutDir("f42", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          col("ts").cast("date").cast("timestamp").cast("string")
            .as("day"))
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "day")
        .option("clusterBy", "event_id").option("files", "2")
        .mode("overwrite").save() // v0: ':'-bearing directory names
      s.sql("DROP TABLE IF EXISTS f42_events")
      s.sql(s"CREATE TABLE f42_events USING graft OPTIONS (path '$root')")
      s.sql("DELETE FROM f42_events " +
        "WHERE day = '2024-01-05 00:00:00'") // v1: CoW on escaped leaf
      s.sql("UPDATE f42_events SET value = 0.0 " +
        "WHERE day = '2024-01-03 00:00:00' AND user_id % 2 = 0") // v2
      val meta = s.sql(
        "SELECT day, count(*) AS n_rows FROM f42_events GROUP BY day")
      require(meta.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources
          .LogicalRelation => r }.isEmpty,
        "partition GROUP BY must answer from metadata on escaped values")
      require(!meta.collect().map(_.getString(0))
          .exists(_.contains("%3A")),
        "metadata groups must serve unescaped partition values")
      s.sql("""SELECT day, count(*) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f42_events GROUP BY day ORDER BY day""".stripMargin)
    }),
    // MULTI-COLUMN PARTITIONING (r13, f40) — the (date, region)-shaped
    // Hive-nested layout real lakehouse tables converge to: one
    // directory LEVEL per partition column (`event_type=x/bucket=n`),
    // catalog keys carrying the full chain, every seam generalized —
    // the listing index binds each referenced partition column by its
    // level ordinal (predicates on EITHER or BOTH columns prune whole
    // leaf directories exactly), DML/OPTIMIZE route per leaf key, and
    // the metadata-count rule answers two-column partition filters
    // with zero scans (spec-pinned). The CoW DELETE here crosses
    // several leaves of both levels; OPTIMIZE bin-packs per leaf
    "f40_multi_partition" -> ((s, dir) => {
      val tmp = layoutDir("f40", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), (col("user_id") % 3).as("bucket"))
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type,bucket")
        .option("clusterBy", "event_id").option("files", "4")
        .mode("overwrite").save() // v0: two-level layout
      s.sql("DROP TABLE IF EXISTS f40_events")
      s.sql(s"CREATE TABLE f40_events USING graft OPTIONS (path '$root')")
      s.sql("DELETE FROM f40_events WHERE user_id = 4") // v1: CoW
      s.sql("OPTIMIZE f40_events") // v2: per-leaf bin packing
      require(FileManifest.latestVersion(s, root).exists(_ >= 1L),
        "expected create + delete (+ optimize) versions")
      s.sql("""SELECT snap, event_type, bucket, n_events, sum_ids FROM (
        |  SELECT 'head' AS snap, event_type,
        |    CAST(bucket AS BIGINT) AS bucket,
        |    count(*) AS n_events, sum(event_id) AS sum_ids
        |  FROM f40_events GROUP BY event_type, bucket
        |  UNION ALL
        |  SELECT 'pre', event_type, CAST(bucket AS BIGINT),
        |    count(*), sum(event_id)
        |  FROM f40_events VERSION AS OF 0 GROUP BY event_type, bucket)
        |ORDER BY snap, event_type, bucket""".stripMargin)
    }),
    // SHALLOW CLONE through the front door — `CREATE TABLE c SHALLOW
    // CLONE s VERSION AS OF n LOCATION 'p'` (the Delta statement): a
    // ZERO-COPY fork whose v0 manifest references the source's data
    // files verbatim, under a fresh root with its own version chain.
    // The entry proves independence both ways: a CoW DELETE on the
    // clone lands under the CLONE's data root (the source's chain and
    // files untouched), and the one statement reads BOTH tables —
    // the clone post-DML, the source still serving its full head
    "f30_sql_clone" -> ((s, dir) => {
      val tmp = layoutDir("f30", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      freshDir(s, s"$tmp/clone")
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      def save(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
        df.write.format("graft").option("path", root)
          .option("partitionBy", "event_type")
          .option("clusterBy", "user_id").option("files", "8")
          .mode(mode).save()
      save(ev.where(col("user_id") < 8), "overwrite") // v0
      save(ev.where(col("user_id") >= 8), "append") // v1
      s.sql("DROP TABLE IF EXISTS f30_events")
      s.sql(s"CREATE TABLE f30_events USING graft OPTIONS (path '$root')")
      s.sql("DROP TABLE IF EXISTS f30_clone")
      s.sql("CREATE TABLE f30_clone SHALLOW CLONE f30_events " +
        s"VERSION AS OF 0 LOCATION '$tmp/clone'")
      s.sql("DELETE FROM f30_clone WHERE event_type = 'error'")
      require(FileManifest.latestVersion(s, root).contains(1L),
        "the clone's DML must not touch the source's version chain")
      require(FileManifest.latestVersion(s, s"$tmp/clone").contains(1L),
        "the clone must carry its own independent version chain")
      s.sql("""SELECT snap, event_type, n_events, total_value, sum_ids
        |FROM (
        |  SELECT 'clone' AS snap, event_type, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_value,
        |    sum(event_id) AS sum_ids
        |  FROM f30_clone GROUP BY event_type
        |  UNION ALL
        |  SELECT 'src', event_type, count(*),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |    sum(event_id)
        |  FROM f30_events GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin)
    }),
    // SQL MERGE INTO through the front door (plans/GraftDml.scala) —
    // the DML trio's last member: one changeset carrying updates,
    // flagged deletes, and inserts lands as ONE atomic CoW version.
    // The WHEN cascade is first-satisfied-wins (the SQL contract);
    // matched source rows stage once partitioned by the target file
    // they touch (the mergeKeyed "route, don't join" discipline), so
    // per-file rewrites never re-scan the source; the ON clause's
    // t.<clusterCol> = s.<key> equi-conjunct prunes candidate files by
    // the source key's [min, max] before any data file opens
    "f24_sql_merge" -> ((s, dir) => {
      val tmp = layoutDir("f24", dir)
      val root = s"$tmp/cat"
      freshDir(s, root)
      val ev = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.format("graft")
        .option("path", root).option("partitionBy", "event_type")
        .option("clusterBy", "event_id").option("files", "12")
        .mode("overwrite").save()
      s.sql("DROP TABLE IF EXISTS f24_events")
      s.sql(s"CREATE TABLE f24_events USING graft OPTIONS (path '$root')")
      ev.createOrReplaceTempView("f24_src_events")
      s.sql("""CREATE OR REPLACE TEMP VIEW f24_chg AS
        |SELECT event_id AS k, user_id AS u, event_type AS et,
        |       value * 3 + 1 AS nv, (event_id % 5 = 0) AS del
        |FROM f24_src_events WHERE user_id BETWEEN 3 AND 9
        |UNION ALL
        |SELECT event_id + 100000000 AS k, user_id AS u,
        |       event_type AS et, value + 0.5 AS nv, FALSE AS del
        |FROM f24_src_events WHERE user_id BETWEEN 1 AND 2""".stripMargin)
      s.sql("""MERGE INTO f24_events t USING f24_chg s
        |ON t.event_id = s.k
        |WHEN MATCHED AND s.del THEN DELETE
        |WHEN MATCHED THEN UPDATE SET value = s.nv
        |WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type, value)
        |  VALUES (s.k, s.u, s.et, s.nv)""".stripMargin)
      require(FileManifest.latestVersion(s, root).contains(1L),
        "the MERGE must have committed exactly one new version")
      s.sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  sum(event_id) AS sum_ids
        |FROM f24_events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    "f16_refs" -> ((s, dir) => {
      val tmp = layoutDir("f16", dir)
      val vroot = s"$tmp/cat"
      freshDir(s, vroot)
      val ev = T(s, dir, "events")
      FileManifest.writePartitionedLayout(ev, s"$tmp/t", "event_type",
        "user_id", numFiles = 12)
      val pm = FileManifest.buildPartitioned(s, s"$tmp/t", "user_id")
      val v0 = FileManifest.commitVersion(s, pm, vroot)
      FileManifest.createTag(s, vroot, "release0", v0)
      val v1 = FileManifest.commitVersion(s,
        pm.copy(partitions = pm.partitions - "event_type=click"), vroot)
      FileManifest.createBranch(s, vroot, "main", v1)
      val v2 = FileManifest.commitVersion(s,
        pm.copy(partitions = pm.partitions.view
          .filterKeys(_ == "event_type=purchase").toMap), vroot)
      FileManifest.advanceBranch(s, vroot, "main", v2)
      // expiry honors ref pins: v0 (tag) and v2 (main, latest) stay,
      // v1 — branched over, now unpinned — is reclaimed
      FileManifest.expireVersions(s, vroot, keepLast = 1)
      require(FileManifest.resolveRef(s, vroot, "main") == v2,
        "main must resolve to its fast-forwarded head")
      FileManifest.readPrunedPartitioned(s,
          FileManifest.loadRef(s, vroot, "release0"), None, Long.MinValue,
          Long.MaxValue)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // PARTITION-SPEC EVOLUTION (r9, late): early files partitioned
    // by event_type, later files by day — no rewrite; the query
    // prunes each epoch by what ITS spec supports (directory pruning
    // where the column is the spec, footer-stat range + residual
    // filter everywhere else) and the union restores the relation
    "f17_partition_evolution" -> ((s, dir) => {
      val tmp = layoutDir("f17", dir)
      val ev = T(s, dir, "events")
      FileManifest.writePartitionedLayout(
        ev.where(col("event_id") % 2 === 0), s"$tmp/a", "event_type",
        "user_id", numFiles = 8)
      FileManifest.writePartitionedLayout(
        ev.where(col("event_id") % 2 === 1)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
        s"$tmp/b", "day", "user_id", numFiles = 8)
      val pmA = FileManifest.buildPartitioned(s, s"$tmp/a", "user_id")
      val pmB = FileManifest.buildPartitioned(s, s"$tmp/b", "user_id")
      FileManifest.readPrunedEvolved(s, Seq(pmA, pmB),
          partFilters = Map("event_type" -> Seq("purchase", "view")),
          lo = 2L, hi = 120L,
          cols = Seq("event_id", "user_id", "event_type", "value"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"),
          sum("event_id").as("sum_ids"))
        .orderBy("event_type")
    }),
    // DYNAMIC FILE PRUNING for a join (r9, late): the dim side (rare
    // high-value orders → a small scattered user-id set) is evaluated
    // first — one metadata-sized action — and the manifest then skips
    // every fact file whose [min, max] contains NONE of those keys,
    // before any fact data page is read. File-granular superset +
    // the actual join as residual, so the oracle is the plain join —
    // pruning must lose nothing
    "f18_join_file_prune" -> ((s, dir) => {
      val tmp = layoutDir("f18", dir)
      FileManifest.writeLayout(T(s, dir, "events"), tmp, "user_id", 16)
      val m = FileManifest.buildManifest(s, tmp, "user_id")
      val dim = T(s, dir, "orders").where(col("o_totalprice") > 499000)
        .select((col("o_custkey") % 15).cast("long").as("user_id"))
        .distinct()
      FileManifest.readJoinPruned(s, m, "user_id", dim, "user_id")
        .join(broadcast(dim), "user_id")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"))
        .orderBy("user_id")
    }),
    // bloom-sidecar data skipping (r10): point lookups on a
    // NON-clustered high-cardinality column — the layout clusters by
    // orderkey, so every file's partkey [min,max] spans the domain
    // and the range rung keeps everything; the per-file bloom words
    // (md5 probes, folded executor-side via bit_or) prune files with
    // zero false negatives, and the residual isin re-filters rows
    "f20_bloom_skip" -> ((s, dir) => {
      val tmp = layoutDir("f20", dir)
      FileManifest.writeLayout(T(s, dir, "lineitem"), tmp, "l_orderkey", 16)
      val blooms = FileManifest.buildBloomManifest(s, tmp, "l_partkey",
        m = 1 << 16, k = 3)
      FileManifest.readBloomPruned(s, blooms, "l_partkey",
          Seq(5L, 55L, 155L))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("qty"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_partkey")
    }),
    // string-bounds manifest (r10): truncated per-file bounds on a
    // STRING clustering key (Iceberg's truncate transform) — lower
    // bound is the prefix, upper bound is prefix+bump, comparisons in
    // UTF-8 unsigned byte order on BOTH build and prune so parquet's
    // binary stats ordering and the pruning can never disagree; the
    // BETWEEN residual restores exactness
    "f21_string_prune" -> ((s, dir) => {
      val tmp = layoutDir("f21", dir)
      FileManifest.writeLayout(T(s, dir, "customer"), tmp, "c_name", 12)
      val m = FileManifest.buildStringManifest(s, tmp, "c_name",
        truncateTo = 16)
      FileManifest.readStringPruned(s, m, "c_name",
          "Customer#000000100", "Customer#000000299")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"),
          min(col("c_name")).as("first_name"))
        .orderBy("c_mktsegment")
    }),
    "f13_delete_mor" -> ((s, dir) => {
      val tmp = layoutDir("f13", dir)
      val ev = T(s, dir, "events")
      FileManifest.writeLayout(ev, s"$tmp/t", "user_id", 16)
      val m = FileManifest.buildManifest(s, s"$tmp/t", "user_id")
      val keys = ev.where(col("user_id").between(10, 30))
        .select("user_id").distinct()
      val mor = FileManifest.deleteKeysMoR(s,
        FileManifest.MorTable("user_id", m, Nil), keys, s"$tmp/del")
      FileManifest.readMoR(s, mor)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("event_id")).as("sum_ids"))
        .orderBy("event_type")
    }),
    "f7_update_cow" -> ((s, dir) => {
      val tmp = layoutDir("f7", dir)
      FileManifest.writeLayout(T(s, dir, "events"), s"$tmp/t", "user_id", 16)
      val m = FileManifest.buildManifest(s, s"$tmp/t", "user_id")
      val m2 = FileManifest.updateRange(s, m, "user_id", 10L, 30L,
        "value", col("value") * 2, s"$tmp/rw")
      FileManifest.readAll(s, m2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          sum(col("event_id")).as("sum_ids"))
        .orderBy("event_type")
    }),
    // schema evolution with ZERO rewrite: old-generation files keep
    // their original columns (value, no priority), new-generation
    // files carry the renamed column (amount) and the added one; a
    // column mapping resolves both at scan time through one
    // merged-schema read + a codegen'd coalesce projection
    "f10_schema_evolution" -> ((s, dir) => {
      val tmp = layoutDir("f10", dir)
      val ev = T(s, dir, "events")
      FileManifest.writeLayout(ev.filter(col("event_id") % 2 === 0),
        s"$tmp/t", "user_id", 8)
      FileManifest.writeLayout(
        ev.filter(col("event_id") % 2 === 1)
          .withColumnRenamed("value", "amount")
          .withColumn("priority", (col("event_id") % 5).cast("int")),
        s"$tmp/t2", "user_id", 8)
      val m = FileManifest.buildManifest(s, s"$tmp/t", "user_id") ++
        FileManifest.buildManifest(s, s"$tmp/t2", "user_id")
      FileManifest.readMapped(s, m, Seq(
          ("event_type", Seq("event_type"), lit(null)),
          ("value", Seq("amount", "value"), lit(null)),
          ("priority", Seq("priority"), lit(-1))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          sum(col("priority")).as("sum_priority"))
        .orderBy("event_type")
    }),
    // incremental changelog read between two snapshots: file-level
    // diff keeps every carried file closed; row-level exceptAll over
    // only the churned files nets a CoW update out as D(old)+I(new).
    // IO proportional to churn, not table size.
    "f9_snapshot_diff" -> ((s, dir) => {
      val tmp = layoutDir("f9", dir)
      FileManifest.writeLayout(T(s, dir, "events"), s"$tmp/t", "user_id", 16)
      val v1 = FileManifest.buildManifest(s, s"$tmp/t", "user_id")
      val v2 = FileManifest.updateRange(s, v1, "user_id", 40L, 60L,
        "value", col("value") + lit(1000000.0), s"$tmp/rw")
      FileManifest.snapshotDiff(s, v1, v2)
        .select(col("change_type"), col("event_id"), col("user_id"),
          col("value"))
        .orderBy("change_type", "event_id")
    }),
    // COPY-ON-WRITE MERGE INTO: one keyed changeset carrying updates,
    // deletes, and inserts; only files whose key range a change row
    // lands in rewrite (changeset staged partitioned-by-file first),
    // every other file carries verbatim. The returned manifest IS the
    // post-merge table.
    "f8_merge_cow" -> ((s, dir) => {
      val tmp = layoutDir("f8", dir)
      val ord = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      FileManifest.writeLayout(ord, s"$tmp/t", "o_orderkey", 16)
      val m = FileManifest.buildManifest(s, s"$tmp/t", "o_orderkey")
      val mx = ord.agg(max("o_orderkey")).head.getLong(0)
      val changes = ord.filter(col("o_orderkey") % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("_del", lit(false))
        .unionByName(ord.filter(col("o_orderkey") % 10 === 2)
          .withColumn("_del", lit(true)))
        .unionByName(ord.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderkey", col("o_orderkey") + mx)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .withColumn("_del", lit(false)))
      val m2 = FileManifest.mergeKeyed(s, m, "o_orderkey", changes,
        s"$tmp/rw", "_del")
      FileManifest.readAll(s, m2)
        .groupBy((col("o_orderkey") % 4).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("total_price"),
          sum(col("o_orderkey")).as("sum_keys"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("bucket")
    }),
    "f1_manifest_prune" -> ((s, dir) => {
      val tmp = layoutDir("f1", dir)
      FileManifest.writeLayout(T(s, dir, "events"), tmp, "user_id", 16)
      val manifest = FileManifest.buildManifest(s, tmp, "user_id")
      FileManifest.readPruned(s, manifest, "user_id", 4L, 6L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // metadata-only ranged aggregation: count/min/max answered from
    // footer stats for fully-covered files, data pages read ONLY for
    // the two boundary files — a range count at 100 TB touches two
    // files, not the table
    "f5_manifest_agg" -> ((s, dir) => {
      val tmp = layoutDir("f5", dir)
      FileManifest.writeLayout(T(s, dir, "events"), tmp, "user_id", 16)
      val manifest = FileManifest.buildManifest(s, tmp, "user_id")
      FileManifest.aggRanged(s, manifest, "user_id", 12L, 87L)
    }),
    // Z-order layout: Morton-interleave (user_id, floor(value)) so
    // file stats stay tight on BOTH axes, then answer a 2-D box query
    // opening only the files whose per-dimension ranges intersect the
    // box. sum_z pins the Morton formula itself to the DuckDB mirror;
    // the aggregate pins that 2-D pruning loses nothing.
    "f2_zorder_skip" -> ((s, dir) => {
      val tmp = layoutDir("f2", dir)
      val ev = T(s, dir, "events")
        .withColumn("vbucket", floor(col("value")).cast("long"))
      ZOrder.writeZOrdered(ev, tmp, "user_id", "vbucket",
        bits = 8, numFiles = 16)
      ZOrder.readBox(s, tmp,
          Seq(("user_id", 2L, 8L), ("vbucket", 50L, 150L)))
        .withColumn("zval",
          ZOrder.zValue(col("user_id"), col("vbucket"), 11))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          sum(col("zval")).as("sum_z"))
        .orderBy("event_type")
    }),
    // partitioned catalog: directory-per-partition layout, per-file
    // stats keyed by partition, then ONE read pruning both levels —
    // whole partitions first, file ranges within the survivors. The
    // oracle is the plain full-scan filter: two-level pruning must
    // lose nothing.
    "f4_partition_prune" -> ((s, dir) => {
      val tmp = layoutDir("f4", dir)
      val ev = T(s, dir, "events")
      FileManifest.writePartitionedLayout(ev, tmp, "event_type",
        "user_id", numFiles = 20)
      val pm = FileManifest.buildPartitioned(s, tmp, "user_id")
      FileManifest.readPrunedPartitioned(s, pm,
          Some(Seq("event_type=click", "event_type=view")), 4L, 6L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // snapshot ROLLBACK as a new commit: v0 = full catalog, v1 drops
    // a partition (retention), rollback re-commits v0's content as
    // v2 — reading the LATEST version must hash-equal the plain full
    // scan, proving restore-by-commit end to end (history intact:
    // v1 stays readable, asserted in the plan-shape spec)
    "f11_rollback" -> ((s, dir) => {
      val tmp = layoutDir("f11", dir)
      val ev = T(s, dir, "events")
      FileManifest.writePartitionedLayout(ev, s"$tmp/t", "event_type",
        "user_id", numFiles = 20)
      val pm = FileManifest.buildPartitioned(s, s"$tmp/t", "user_id")
      val vroot = s"$tmp/cat"
      val v0 = FileManifest.commitVersion(s, pm, vroot)
      // "retention" drops the click partition in v1
      FileManifest.commitVersion(s,
        pm.copy(partitions = pm.partitions - "event_type=click"), vroot)
      FileManifest.rollbackTo(s, vroot, v0)
      FileManifest.readPrunedPartitioned(s,
          FileManifest.loadLatest(s, vroot), None, Long.MinValue,
          Long.MaxValue)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // orphan-file GC: two layouts of the same data, catalog migrates
    // A → B, expiry drops A's catalog, GC reclaims A's bytes (no
    // retained version references them) — then the survivor catalog
    // must still read hash-exactly
    "f12_orphan_gc" -> ((s, dir) => {
      val tmp = layoutDir("f12", dir)
      val ev = T(s, dir, "events")
      FileManifest.writePartitionedLayout(ev, s"$tmp/a", "event_type",
        "user_id", numFiles = 10)
      FileManifest.writePartitionedLayout(ev, s"$tmp/b", "event_type",
        "user_id", numFiles = 10)
      val vroot = s"$tmp/cat"
      FileManifest.commitVersion(s,
        FileManifest.buildPartitioned(s, s"$tmp/a", "user_id"), vroot)
      FileManifest.commitVersion(s,
        FileManifest.buildPartitioned(s, s"$tmp/b", "user_id"), vroot)
      FileManifest.expireVersions(s, vroot, keepLast = 1)
      FileManifest.gcOrphans(s, vroot, Seq(s"$tmp/a", s"$tmp/b"))
      FileManifest.readPrunedPartitioned(s,
          FileManifest.loadLatest(s, vroot), None, Long.MinValue,
          Long.MaxValue)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // small-file compaction: pack a 32-file layout into ~4-file bins by
    // key order (clustering preserved => manifest still prunes), then
    // prove the rewrite lost nothing against the plain full-scan oracle
    "f3_compaction" -> ((s, dir) => {
      val tmp = layoutDir("f3", dir)
      FileManifest.writeLayout(T(s, dir, "events"), s"$tmp/small",
        "user_id", 32)
      val m = FileManifest.buildManifest(s, s"$tmp/small", "user_id")
      // target = a quarter of the table -> always ~4 bins at any SF
      // (in production this is a fixed byte size; the demo keys it to
      // the table so the bench plan is scale-invariant)
      FileManifest.compact(s, m, s"$tmp/out", "user_id",
        targetRows = math.max(1L, m.map(_.rows).sum / 4))
      FileManifest.readCompacted(s, s"$tmp/out")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("event_id")).as("sum_ids"))
        .orderBy("event_type")
    }),
  )

  /** DuckDB-dialect oracle for each query above. */
  def oracleSql: Map[String, String] = Map(
    // valid in the exact (distinct < k) regime the verify SF sits in;
    // the estimating regime is covered by the KMV error-bound spec
    "a2_kmv_distinct" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS DOUBLE) AS kmv_users,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // exact regime: sketch holds every group value, so each quantile is
    // sorted-list indexing at the sketch's round-half-up rank rule
    "a4_quantiles" ->
      """WITH g AS (SELECT l_returnflag, list_sort(list(l_extendedprice)) AS vs
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |  unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE, 0.95::DOUBLE]) AS q,
        |  unnest(list_transform([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE, 0.95::DOUBLE],
        |    p -> vs[CAST(floor(p * (len(vs) - 1) + 0.5) AS BIGINT) + 1]))
        |    AS quantile_value
        |FROM g ORDER BY l_returnflag, q""".stripMargin,
    "s5_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT unnest(range(len(v))) AS i, unnest(v) AS x FROM e),
        |mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM d GROUP BY i),
        |l AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM mm),
        |c AS (SELECT vec_id, list_transform(range(len(v)), i ->
        |    CASE WHEN mxs[i+1] = mns[i+1] THEN 0
        |      ELSE CAST(least(255, greatest(0,
        |        floor((v[i+1] - mns[i+1]) * 255.0 / (mxs[i+1] - mns[i+1]))))
        |        AS INT) END) AS codes
        |  FROM e, l)
        |SELECT vec_id, CAST(len(codes) AS INT) AS n_dims,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  md5(array_to_string(codes, ',')) AS codes_md5
        |FROM c ORDER BY vec_id""".stripMargin,
    "d9_decontam_bloom" ->
      """WITH g AS (SELECT doc_id, source,
        |  CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
        |    ELSE list_transform(generate_series(1, len(sp) - 2),
        |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END AS grams
        |  FROM (SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS sp FROM documents)),
        |b AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = 'src0'),
        |c AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM g
        |  WHERE source <> 'src0'),
        |bad AS (SELECT DISTINCT doc_id FROM c JOIN b USING (gram))
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.source <> 'src0' AND d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin,
    "ref_json_ingest" ->
      s"""WITH o AS (${RefTables.ordersSql})
         |SELECT currency, CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(amount) AS BIGINT) AS total_amount
         |FROM o GROUP BY currency ORDER BY currency""".stripMargin,
    "ref_interval_join" ->
      s"""WITH o AS (${RefTables.ordersSql}), r AS (${RefTables.ratesSql})
         |SELECT o.id, strftime(o.order_ts, '$FMT') AS order_time,
         |  o.amount AS original_amount, o.amount * r.rate AS converted_amount,
         |  strftime(r.rate_ts, '$FMT') AS rate_time
         |FROM o LEFT JOIN r ON o.currency = r.currency
         |  AND r.rate_ts <= o.order_ts
         |  AND r.rate_ts > o.order_ts - INTERVAL 6 HOUR
         |ORDER BY id ASC, rate_time ASC NULLS FIRST""".stripMargin,
    "ref_asof_join" ->
      s"""WITH o AS (${RefTables.ordersSql}), r AS (${RefTables.ratesSql})
         |SELECT o.id, o.amount AS original_amount, rr.rate,
         |  o.amount * rr.rate AS converted_amount,
         |  strftime(rr.rate_ts, '$FMT') AS rate_time
         |FROM o LEFT JOIN LATERAL (
         |  SELECT r.rate, r.rate_ts FROM r
         |  WHERE r.currency = o.currency AND r.rate_ts <= o.order_ts
         |  ORDER BY r.rate_ts DESC, r.rate DESC LIMIT 1) rr ON TRUE
         |ORDER BY id""".stripMargin,
    "ref_asof_forward" ->
      s"""WITH o AS (${RefTables.ordersSql}), r AS (${RefTables.ratesSql})
         |SELECT o.id, o.amount AS original_amount, rr.rate,
         |  o.amount * rr.rate AS converted_amount,
         |  strftime(rr.rate_ts, '$FMT') AS rate_time
         |FROM o LEFT JOIN LATERAL (
         |  SELECT r.rate, r.rate_ts FROM r
         |  WHERE r.currency = o.currency AND r.rate_ts >= o.order_ts
         |  ORDER BY r.rate_ts ASC, r.rate DESC LIMIT 1) rr ON TRUE
         |ORDER BY id""".stripMargin,
    // nearest: smallest |rate_ts - order_ts| per order, ties backward
    "ref_asof_nearest" ->
      s"""WITH o AS (${RefTables.ordersSql}), r AS (${RefTables.ratesSql})
         |SELECT o.id, o.amount AS original_amount, rr.rate,
         |  o.amount * rr.rate AS converted_amount,
         |  strftime(rr.rate_ts, '$FMT') AS rate_time
         |FROM o LEFT JOIN LATERAL (
         |  SELECT r.rate, r.rate_ts FROM r
         |  WHERE r.currency = o.currency
         |  ORDER BY abs(epoch_us(r.rate_ts) - epoch_us(o.order_ts)),
         |    CASE WHEN r.rate_ts <= o.order_ts THEN 0 ELSE 1 END,
         |    r.rate DESC
         |  LIMIT 1) rr ON TRUE
         |ORDER BY id""".stripMargin,
    "ref_asof_merge" ->
      s"""WITH o AS (${RefTables.ordersSql}), r AS (${RefTables.ratesSql})
         |SELECT o.id, o.amount AS original_amount, rr.rate,
         |  o.amount * rr.rate AS converted_amount,
         |  strftime(rr.rate_ts, '$FMT') AS rate_time
         |FROM o LEFT JOIN LATERAL (
         |  SELECT r.rate, r.rate_ts FROM r
         |  WHERE r.currency = o.currency AND r.rate_ts <= o.order_ts
         |  ORDER BY r.rate_ts DESC LIMIT 1) rr ON TRUE
         |ORDER BY id""".stripMargin,
    "ref_timestamp_to_string" ->
      s"""SELECT event_id, strftime(CAST(ts AS TIMESTAMP), '$FMT') AS ts_str
         |FROM events ORDER BY event_id""".stripMargin,
    "ref_json_sink" ->
      s"""WITH o AS (${RefTables.ordersSql})
         |SELECT '{"id":' || id || ',"amount":' || amount ||
         |  ',"currency":"' || currency || '"}' AS value
         |FROM o ORDER BY value""".stripMargin,
    "ref_streaming_pipeline" ->
      s"""WITH o AS (${RefTables.ordersSql}), r AS (${RefTables.ratesSql})
         |SELECT o.id, strftime(o.order_ts, '$FMT') AS order_time,
         |  o.amount AS original_amount, o.amount * r.rate AS converted_amount,
         |  strftime(r.rate_ts, '$FMT') AS rate_time
         |FROM o LEFT JOIN r ON o.currency = r.currency
         |  AND r.rate_ts <= o.order_ts
         |  AND r.rate_ts > o.order_ts - INTERVAL 6 HOUR
         |ORDER BY id ASC, rate_time ASC NULLS FIRST""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_join_broadcast" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q6_outer_join" ->
      """SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "t1_tumble" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |    '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q4_multijoin_star" ->
      """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q5_semi_anti" ->
      """SELECT 'with_orders' AS kind, CAST(count(*) AS BIGINT) AS n FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS kind, CAST(count(*) AS BIGINT) AS n FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY kind""".stripMargin,
    "q7_window_rank" ->
      """SELECT o_orderpriority,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS "rank",
        |  o_orderkey, o_totalprice
        |FROM orders QUALIFY "rank" <= 3 ORDER BY o_orderpriority, "rank"""".stripMargin,
    "q8_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spent,
        |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |  lead(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS next_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q9_distinct_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q10_setops" ->
      """SELECT 'both' AS kind, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'building_only' AS kind, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'orders_only' AS kind, c_custkey FROM (
        |  SELECT o_custkey AS c_custkey FROM orders
        |  EXCEPT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY kind, c_custkey""".stripMargin,
    "q11_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50""".stripMargin,
    "q12_scalar_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
        |  substring(p_name, 1, 10) AS name10, length(p_name) AS name_len,
        |  concat_ws('-', p_brand, p_type) AS brand_type,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |  CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M'
        |    ELSE 'L' END AS size_class,
        |  abs(p_size - 25) AS size_dist
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q13_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q14_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS seg,
        |  coalesce(n_name, 'ALL') AS nation, CAST(count(*) AS BIGINT) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(c_mktsegment, n_name)
        |ORDER BY seg, nation""".stripMargin,
    "q31_cube" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS seg,
        |  coalesce(n_name, 'ALL') AS nation,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE(c_mktsegment, n_name)
        |ORDER BY seg, nation""".stripMargin,
    // q32's oracle is the NAIVE range join — bucketing must lose and
    // invent nothing
    "q34_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS rev_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS rev_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS rev_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q32_range_join" ->
      """WITH p AS (SELECT event_type, event_id % 10000 AS p FROM events),
        |iv AS (SELECT o_orderkey % 10000 AS lo,
        |    o_orderkey % 10000 + o_orderkey % 13 AS hi, o_orderkey
        |  FROM orders)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |  CAST(count(DISTINCT p) AS BIGINT) AS n_points
        |FROM p JOIN iv ON p.p BETWEEN iv.lo AND iv.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x29: same sentence split, same exclusive prefix sum, same
    // closed-form chunk assignment, chunk text re-assembled in
    // sentence order for the md5
    "x29_sentence_chunk" ->
      """WITH sp AS (SELECT doc_id,
        |    string_split_regex(trim(text), '[.!?]+\s+') AS arr
        |  FROM documents),
        |s0 AS (SELECT doc_id, i AS idx, arr[i] AS s
        |  FROM sp, unnest(generate_series(1, len(arr))) AS t(i)),
        |s1 AS (SELECT doc_id, idx, s,
        |    CAST(len(string_split_regex(trim(s), '\s+')) AS BIGINT) AS nt
        |  FROM s0 WHERE length(trim(s)) > 0),
        |c AS (SELECT doc_id, idx, s, nt,
        |    COALESCE(sum(nt) OVER (PARTITION BY doc_id ORDER BY idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bf
        |  FROM s1)
        |SELECT doc_id, CAST(floor(bf / 120) AS BIGINT) AS chunk_id,
        |  CAST(count(*) AS BIGINT) AS n_sentences,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  md5(string_agg(s, ' ' ORDER BY idx)) AS chunk_md5
        |FROM c GROUP BY 1, 2 ORDER BY doc_id, chunk_id""".stripMargin,
    // x30: x2's metric arithmetic feeding one grouped report
    "x30_dataset_card" ->
      """WITH m AS (SELECT doc_id, source, lang, n_chars, text,
        |    length(text) AS nc,
        |    len(string_split_regex(trim(text), '\s+')) AS nt,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS np,
        |    len(list_intersect(list_distinct(string_split_regex(trim(text), '\s+')),
        |      ['the','and','of','is','to','in','a','that','it','for'])) AS st
        |  FROM documents),
        |q AS (SELECT *, least(nt / 100.0, 1.0) * 0.5 + least(st / 5.0, 1.0) * 0.3 +
        |    (CASE WHEN np / nc < 0.1 THEN 0.2 ELSE 0.0 END) AS score FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        |  CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quality_pass,
        |  CAST(sum(nt) AS BIGINT) AS sum_tokens
        |FROM q GROUP BY 1 ORDER BY source""".stripMargin,
    // c2: the same SCD2 chain as q28, then each purchase picks its
    // at-or-before version via a correlated lookup — PIT correctness
    // by construction on both sides
    "c2_pit_features" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus,
        |    event_id, value FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id) AS prev
        |  FROM e WHERE event_type <> 'purchase'),
        |v AS (SELECT user_id, event_type AS attr, tus AS vfrom FROM c
        |  WHERE prev IS DISTINCT FROM event_type),
        |f AS (SELECT user_id, tus, event_id, value FROM e
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT f.event_id, f.user_id, f.value,
        |    (SELECT v.attr FROM v WHERE v.user_id = f.user_id
        |      AND v.vfrom <= f.tus
        |      ORDER BY v.vfrom DESC, v.attr DESC LIMIT 1) AS attr
        |  FROM f)
        |SELECT attr, CAST(count(*) AS BIGINT) AS n_facts,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM j GROUP BY 1 ORDER BY attr NULLS FIRST""".stripMargin,
    // c1 replays the whole curation chain: x2's metric arithmetic
    // (bit-identical doubles, so the >= 0.5 gate agrees), md5 keep-min
    // dedup, x5's split assignment, then the report
    "c1_curation_pipeline" ->
      s"""WITH m AS (SELECT doc_id, lang, n_chars, text,
        |    length(text) AS nc,
        |    len(string_split_regex(trim(text), '\\s+')) AS nt,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS np,
        |    len(list_intersect(list_distinct(string_split_regex(trim(text), '\\s+')),
        |      ['the','and','of','is','to','in','a','that','it','for'])) AS st
        |  FROM documents),
        |q AS (SELECT *, least(nt / 100.0, 1.0) * 0.5 + least(st / 5.0, 1.0) * 0.3 +
        |    (CASE WHEN np / nc < 0.1 THEN 0.2 ELSE 0.0 END) AS score FROM m),
        |k AS (SELECT * FROM q WHERE score >= 0.5),
        |d AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |  FROM k),
        |u AS (SELECT * FROM d WHERE doc_id = keeper)
        |SELECT ${operators.CorpusOps.hashSplitSql("doc_id::VARCHAR")} AS "split",
        |  lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(nt) AS BIGINT) AS sum_tokens
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // c4: the c1 curation chain + the report's own predicates — the
    // graft table in between is a read path, never the answer
    "c4_curated_table" ->
      s"""WITH m AS (SELECT doc_id, lang, n_chars, text,
        |    length(text) AS nc,
        |    len(string_split_regex(trim(text), '\\s+')) AS nt,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS np,
        |    len(list_intersect(list_distinct(string_split_regex(trim(text), '\\s+')),
        |      ['the','and','of','is','to','in','a','that','it','for'])) AS st
        |  FROM documents),
        |q AS (SELECT *, least(nt / 100.0, 1.0) * 0.5 + least(st / 5.0, 1.0) * 0.3 +
        |    (CASE WHEN np / nc < 0.1 THEN 0.2 ELSE 0.0 END) AS score FROM m),
        |k AS (SELECT * FROM q WHERE score >= 0.5),
        |d AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |  FROM k),
        |u AS (SELECT * FROM d WHERE doc_id = keeper)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(nt) AS BIGINT) AS sum_tokens
        |FROM u WHERE doc_id BETWEEN 50 AND 400 AND lang <> 'zh'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // g1's oracle enumerates every walk up to the depth bound with a
    // recursive CTE and takes min(dist) — BFS by brute force
    "g1_bfs" ->
      s"""WITH RECURSIVE e AS ($graphEdgesSql),
        |walk AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS dist
        |  UNION
        |  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.dist < 4)
        |SELECT node, CAST(min(dist) AS INT) AS dist FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,
    // g13: keyed recursive enumeration (UNION keeps the walk a set),
    // min-dist collapse, the same ⌊10^6/d⌋ floor sum
    "g13_harmonic" ->
      operators.Graph.harmonicOracleSql(graphEdgesSql,
        sources = (0L to 7L), maxDepth = 4),
    // g2's oracle replays all 4 fixed-point rounds; `//` (BIGINT floor
    // div) == Spark `div` on the non-negative ranks
    "g2_pagerank" ->
      operators.Graph.pageRankOracleSql(graphEdgesSql, iterations = 4),
    "g4_ppr" ->
      operators.Graph.pageRankOracleSql(graphEdgesSql, iterations = 4,
        sources = Seq(0L, 1L, 2L)),
    "g5_kcore" ->
      operators.Graph.kCoreOracleSql(triangleEdgesSql, k = 6, rounds = 3),
    "g7_pagerank_conserve" ->
      operators.Graph.pageRankOracleSql(triangleEdgesSql, iterations = 4,
        conserveDangling = true),
    "g8_label_prop" ->
      operators.Graph.labelPropOracleSql(triangleEdgesSql, rounds = 3),
    "g19_louvain" ->
      operators.Graph.louvainOracleSql(triangleEdgesSql, rounds = 4),
    "g21_louvain_multilevel" ->
      operators.Graph.louvainMultilevelOracleSql(triangleEdgesSql,
        rounds = 2, levels = 2),
    // g9: the engine's caps unroll verbatim — rounds past the checked
    // convergence are no-ops, so the chains agree bit for bit
    "g9_scc" ->
      operators.Graph.sccOracleSql(sccEdgesSql, outerRounds = 4,
        innerDepth = 12),
    "g6_sssp" ->
      operators.Graph.ssspOracleSql(weightedEdgesSql, sources = Seq(0L),
        rounds = 4),
    // g3's oracle enumerates canonical id-ordered triangles x<y<z
    // directly — orientation independence makes it equal the engine's
    // degree-ordered computation
    "g3_triangles" ->
      s"""WITH e AS ($triangleEdgesSql),
        |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e WHERE src <> dst),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM u e1 JOIN u e2 ON e2.a = e1.b
        |  JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
        |c AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t
        |  UNION ALL SELECT z FROM t)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM c
        |GROUP BY node ORDER BY node""".stripMargin,
    // g10: full wedge replay — same canonical undirected edge set,
    // same center-degree cap, `//` on the non-negative RA operands
    "g10_link_predict" ->
      s"""WITH e AS ($triangleEdgesSql),
        |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e WHERE src <> dst),
        |nb AS (SELECT a AS z, b AS n FROM u UNION ALL SELECT b, a FROM u),
        |dg AS (SELECT z, count(*) AS degz FROM nb GROUP BY z),
        |ce AS (SELECT nb.z, nb.n, dg.degz FROM nb JOIN dg USING (z)
        |  WHERE dg.degz <= 64),
        |pr AS (SELECT e1.n AS a, e2.n AS b, e1.degz
        |  FROM ce e1 JOIN ce e2 ON e1.z = e2.z AND e1.n < e2.n),
        |sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(1000000 // degz) AS BIGINT) AS ra_scaled
        |  FROM pr GROUP BY a, b)
        |SELECT a, b, cn, ra_scaled FROM sc
        |WHERE cn >= 2 AND NOT EXISTS (
        |  SELECT 1 FROM u WHERE u.a = sc.a AND u.b = sc.b)
        |ORDER BY a, b""".stripMargin,
    // g14: same md5 coin over the canonical edge, same id-ordered
    // enumeration on the survivors, same integral 8× scaling
    "g14_triangle_sample" ->
      operators.Graph.triangleSampleOracleSql(triangleEdgesSql,
        num = 1, den = 2),
    // g17: both phases unrolled — the cold ladder on the linenumber≤4
    // subgraph, its vector seeding two rounds on the full graph
    "g17_pagerank_warm" ->
      operators.Graph.pageRankWarmOracleSql(
        "SELECT DISTINCT l_orderkey % 4096 AS src, " +
          "(l_partkey * 7 + l_suppkey) % 4096 AS dst FROM lineitem " +
          "WHERE l_linenumber <= 4",
        graphEdgesSql, coldIterations = 4, warmIterations = 2),
    // g15/g16: the same md5 draws, ROW_NUMBER over (md5, dst) replays
    // every successor choice / fanout cut exactly
    "g15_random_walks" ->
      operators.Graph.randomWalksOracleSql(graphEdgesSql, starts = 256L,
        walksPerNode = 2, length = 4),
    "g18_node2vec_walks" ->
      operators.Graph.biasedWalksOracleSql(graphEdgesSql, starts = 256L,
        walksPerNode = 2, length = 4, wReturn = 1, wCommon = 4, wFar = 2),
    // g20: the g15 walk replay + the same offset self-join + the
    // md5-mod draw resolved against the identical cumulative table
    "g20_skipgram" ->
      operators.Graph.skipgramPairsOracleSql(graphEdgesSql, starts = 256L,
        walksPerNode = 2, length = 4, window = 2, negatives = 2),
    "g16_neighbor_sample" ->
      operators.Graph.neighborSampleOracleSql(graphEdgesSql, seeds = 64L,
        fanouts = Seq(3, 2)),
    "g11_hits" ->
      operators.Graph.hitsOracleSql(graphEdgesSql, iterations = 4),
    // g12: the g8 l-chain verbatim + the exact-integer modularity tail
    "g12_modularity" ->
      operators.Graph.modularityOracleSql(triangleEdgesSql, rounds = 3),
    "q15_having_subquery" ->
      """WITH j AS (SELECT n_name, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |g AS (SELECT CAST(sum(bal) AS DOUBLE) / count(*) AS g FROM j),
        |p AS (SELECT n_name, CAST(sum(bal) AS DOUBLE) / count(*) AS avg_bal,
        |  CAST(count(*) AS BIGINT) AS n_cust FROM j GROUP BY n_name)
        |SELECT n_name, avg_bal, n_cust FROM p, g WHERE avg_bal > g
        |ORDER BY n_name""".stripMargin,
    "q16_cond_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_discount > 0.05 THEN CAST(l_quantity AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_highdisc,
        |  CAST(count(CASE WHEN l_tax = 0 THEN 1 END) AS BIGINT) AS n_notax,
        |  CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS early_rev,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q17_distinct_agg" ->
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q18_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
        |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
        |  CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q19_collections" ->
      """SELECT user_id, array_to_string(list_sort(list(event_type)), ',') AS event_types,
        |  CAST(len(list_distinct(list(event_type))) AS INT) AS n_distinct_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q20_edit_distance" ->
      """SELECT a.doc_id, CAST(levenshtein(substring(a.text, 1, 80),
        |    substring(b.text, 1, 80)) AS INT) AS edit_dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin,
    // q33: the EXACT SAME SQL text the engine ran — one recursive CTE,
    // two engines
    "q33_recursive_cte" -> recursiveReachSql,
    // q36/q37: the engine runs the same text through spark.sql —
    // the oracle IS the statement
    "q36_lateral_topn" ->
      """SELECT n.n_name, t.c_name, t.bal
        |FROM nation n,
        |  LATERAL (SELECT c_name, CAST(c_acctbal AS DOUBLE) AS bal
        |    FROM customer WHERE c_nationkey = n.n_nationkey
        |    ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n.n_name, t.bal DESC, t.c_name""".stripMargin,
    "q37_unpivot" ->
      """SELECT l_returnflag, measure, CAST(value AS DOUBLE) AS value
        |FROM (SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_price,
        |    CAST(count(*) AS DOUBLE) AS n_items
        |  FROM lineitem GROUP BY l_returnflag)
        |UNPIVOT (value FOR measure IN (total_qty, total_price, n_items))
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q24_correlated_subquery" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (SELECT 2 * CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q21_window_dist" ->
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q22_datetime" ->
      """SELECT event_id,
        |  CAST(year(CAST(ts AS TIMESTAMP)) AS INT) AS y,
        |  CAST(month(CAST(ts AS TIMESTAMP)) AS INT) AS m,
        |  CAST(day(CAST(ts AS TIMESTAMP)) AS INT) AS d,
        |  CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS h,
        |  CAST(date_diff('day', DATE '2024-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS INT) AS days_since
        |FROM events ORDER BY event_id""".stripMargin,
    "q23_null_semantics" ->
      """SELECT l_orderkey, l_linenumber,
        |  nullif(l_tax, 0.0) AS tax_or_null,
        |  coalesce(nullif(l_tax, 0.0), CAST(-1 AS DOUBLE)) AS tax_filled,
        |  (nullif(l_tax, 0.0) IS NOT DISTINCT FROM nullif(l_discount, 0.0))
        |    AS tax_eq_disc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "t2_hop" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (SELECT unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR]) AS ws,
        |    value FROM events)
        |GROUP BY ws ORDER BY ws""".stripMargin,
    "t3_session" ->
      s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         |s AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
         |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |    THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |t AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM s)
         |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         |  strftime(min(ts), '$FMT') AS session_start,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
         |FROM t GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,
    "t4_stream_dedup" ->
      s"""SELECT user_id, event_type, event_id,
         |  strftime(CAST(ts AS TIMESTAMP), '$FMT') AS first_ts
         |FROM events
         |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
         |  ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1
         |ORDER BY user_id, event_type""".stripMargin,
    "t5_funnel" ->
      s"""WITH su AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS signup_ts
         |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
         |pu AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts
         |  FROM events WHERE event_type = 'purchase')
         |SELECT su.user_id, strftime(su.signup_ts, '$FMT') AS signup_time,
         |  strftime(min(pu.p_ts), '$FMT') AS first_purchase_time,
         |  CAST(count(pu.p_ts) AS BIGINT) AS n_purchases_after,
         |  (min(pu.p_ts) IS NOT NULL) AS converted
         |FROM su LEFT JOIN pu ON pu.user_id = su.user_id AND pu.p_ts >= su.signup_ts
         |GROUP BY su.user_id, su.signup_ts ORDER BY su.user_id""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY lower(trim(text)) ORDER BY doc_id""".stripMargin,
    "ref_json_corrupt" ->
      """WITH e AS (SELECT event_type,
        |  CASE WHEN event_id % 100 = 0 THEN 'corrupt<' || props ELSE props END AS raw
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN raw IS NULL OR NOT json_valid(raw) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN json_valid(raw)
        |    THEN CAST(raw->>'$.k' AS INT) END) AS BIGINT) AS sum_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q27_skew_join" ->
      """SELECT n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q26_unpivot" ->
      """WITH w AS (SELECT o_orderpriority,
        |  CAST(count(*) AS DOUBLE) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_custs
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, metric, value FROM (
        |  SELECT o_orderpriority, 'n_custs' AS metric, n_custs AS value FROM w
        |  UNION ALL SELECT o_orderpriority, 'n_orders', n_orders FROM w
        |  UNION ALL SELECT o_orderpriority, 'total_price', total_price FROM w)
        |ORDER BY o_orderpriority, metric""".stripMargin,
    "q30_merge_upsert" ->
      """WITH cust AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |ch AS (
        |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
        |    false AS del FROM cust WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT c_custkey, c_name, c_acctbal, true
        |    FROM cust WHERE c_custkey % 10 = 1
        |  UNION ALL SELECT c_custkey + 1000000, c_name, c_acctbal, false
        |    FROM cust WHERE c_custkey % 10 = 2)
        |SELECT coalesce(ch.c_custkey, cust.c_custkey) AS c_custkey,
        |  CASE WHEN ch.c_custkey IS NOT NULL THEN ch.c_name
        |    ELSE cust.c_name END AS c_name,
        |  CASE WHEN ch.c_custkey IS NOT NULL THEN ch.c_acctbal
        |    ELSE cust.c_acctbal END AS c_acctbal
        |FROM cust FULL OUTER JOIN ch ON cust.c_custkey = ch.c_custkey
        |WHERE ch.c_custkey IS NULL OR NOT ch.del
        |ORDER BY c_custkey""".stripMargin,
    "q28_scd2" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
        |  FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id) AS prev FROM e),
        |ch AS (SELECT user_id, event_type, tus, event_id FROM c
        |  WHERE prev IS DISTINCT FROM event_type),
        |v AS (SELECT user_id, event_type AS attr, tus AS valid_from_us,
        |    lead(tus) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id) AS valid_to_us FROM ch)
        |SELECT user_id, attr, valid_from_us, valid_to_us,
        |  valid_to_us IS NULL AS is_current
        |FROM v ORDER BY user_id, valid_from_us, attr""".stripMargin,
    // t8: count per (hour, key), rank per hour, keep k — ties break
    // on key ascending exactly as the operator does
    // t9: a9's replayable-HLL chain keyed by the tumbling window
    // t12: DuckDB's native ASOF LEFT JOIN is the oracle for the
    // drained stateful stream — same ms truncation, same per-(key,ms)
    // max-event_id rate dedupe
    "t12_asof_stream" ->
      """WITH o AS (SELECT CAST(event_id AS INT) AS id,
        |    CAST(user_id % 10 AS VARCHAR) AS key,
        |    epoch_us(ts) // 1000 AS tms, CAST(event_id % 500 AS INT) AS amount
        |  FROM events WHERE event_type = 'purchase' AND user_id < 30),
        |r0 AS (SELECT CAST(user_id % 10 AS VARCHAR) AS key,
        |    epoch_us(ts) // 1000 AS tms,
        |    CAST(event_id % 1000 AS INT) AS rate,
        |    row_number() OVER (PARTITION BY user_id % 10, epoch_us(ts) // 1000
        |      ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'view' AND user_id < 30),
        |r AS (SELECT key, tms, rate FROM r0 WHERE rn = 1)
        |SELECT o.id, o.key, o.tms AS order_ms, o.amount, r.rate,
        |  CAST(o.amount * r.rate AS INT) AS converted
        |FROM o ASOF LEFT JOIN r ON o.key = r.key AND r.tms <= o.tms
        |ORDER BY o.id""".stripMargin,
    // t10/t11: grid + LOCF window and ordered-aggregate bars — the
    // value column is carried, never computed on, so double parity
    // is bit-exact
    "t10_resample" ->
      operators.TimeSeries.resampleOracleSql("events", "user_id", "ts",
        "event_id", "value"),
    "t13_interp" ->
      operators.TimeSeries.interpOracleSql("events", "user_id", "ts",
        "event_id", "value"),
    "t11_ohlc" ->
      operators.TimeSeries.ohlcOracleSql("events", "event_type", "ts",
        "event_id", "value"),
    "t9_stream_distinct" ->
      """WITH ev AS (SELECT strftime(date_trunc('hour', ts),
        |    '%Y-%m-%d %H:%M:%S') AS win, user_id FROM events),
        |h AS (SELECT win,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM ev WHERE user_id IS NOT NULL),
        |rho AS (SELECT win, h & 63 AS b,
        |    CASE WHEN (h >> 6) = 0 THEN 55
        |      ELSE 55 - length(bin(h >> 6)) END AS rho
        |  FROM h),
        |got AS (SELECT win, b, max(rho) AS r FROM rho GROUP BY 1, 2),
        |regs AS (SELECT a.win, u.b, coalesce(g.r, 0) AS r
        |  FROM (SELECT DISTINCT win FROM ev) a
        |  CROSS JOIN unnest(generate_series(0, 63)) AS u(b)
        |  LEFT JOIN got g ON g.win = a.win AND g.b = u.b),
        |agg AS (SELECT win,
        |    CAST(sum(1::BIGINT << (55 - r)) AS BIGINT) AS s_fixed,
        |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zero_regs
        |  FROM regs GROUP BY 1),
        |fin AS (SELECT win,
        |    CAST(floor(0.709 * 64 * 64 /
        |      (CAST(s_fixed AS DOUBLE) / 36028797018963968.0)) AS BIGINT)
        |      AS est_distinct,
        |    zero_regs FROM agg),
        |t AS (SELECT win, CAST(count(DISTINCT user_id) AS BIGINT)
        |    AS true_distinct
        |  FROM ev GROUP BY 1)
        |SELECT f.win, est_distinct, zero_regs, true_distinct
        |FROM fin f JOIN t USING (win) ORDER BY win""".stripMargin,
    "t8_window_topk" ->
      """WITH c AS (SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |    '%Y-%m-%d %H:%M:%S') AS window_start,
        |    CAST(event_type AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT window_start, key, n, CAST(row_number() OVER (
        |    PARTITION BY window_start ORDER BY n DESC, key ASC) AS INT)
        |    AS "rank" FROM c)
        |SELECT window_start, key, n, "rank" FROM r WHERE "rank" <= 3
        |ORDER BY window_start, "rank"""".stripMargin,
    "t7_rolling" ->
      """SELECT user_id, event_id, epoch_us(ts) AS tus,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    // streaming band-state operator, batch path: same exact-jaccard
    // oracle as d2 (pair set identical by construction)
    "t6_stream_neardup" ->
      """WITH w AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
        |    ELSE list_transform(generate_series(1, len(sp) - 2),
        |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
        |  FROM (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS sp FROM documents)),
        |ww AS (SELECT doc_id, sh, len(sh) AS n FROM w),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter, a.n AS na, b.n AS nb
        |  FROM ww a JOIN ww b ON a.doc_id < b.doc_id
        |    AND a.n <= b.n * 2.0 AND b.n <= a.n * 2.0)
        |SELECT id_a, id_b, inter / (na + nb - inter) AS jaccard
        |FROM p WHERE inter / (na + nb - inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // exact all-pairs trigram-jaccard oracle: valid because the corpus
    // has NO pairs in the LSH miss-risk band (all matches sit at
    // j >= 0.9, where 16-band/4-row detection probability is
    // 1 - (1-0.9^4)^16 ~ 1 - 4e-8), so LSH output == exact output
    "d2_dedup_minhash" ->
      """WITH w AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
        |    ELSE list_transform(generate_series(1, len(sp) - 2),
        |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
        |  FROM (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS sp FROM documents)),
        |ww AS (SELECT doc_id, sh, len(sh) AS n FROM w),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter, a.n AS na, b.n AS nb
        |  FROM ww a JOIN ww b ON a.doc_id < b.doc_id
        |    AND a.n <= b.n * 2.0 AND b.n <= a.n * 2.0)
        |SELECT id_a, id_b, inter / (na + nb - inter) AS jaccard
        |FROM p WHERE inter / (na + nb - inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // cross-set exact-jaccard mirror (same full-recall argument as
    // d2: LSH candidates provably cover all true pairs here, so the
    // verified pair set equals the exact join restricted to
    // corpus × benchmark)
    "d15_decontam_neardup" ->
      """WITH w AS (SELECT doc_id, source,
        |  list_distinct(CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
        |    ELSE list_transform(generate_series(1, len(sp) - 2),
        |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
        |  FROM (SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS sp FROM documents)),
        |ww AS (SELECT doc_id, source, sh, len(sh) AS n FROM w),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter, a.n AS na, b.n AS nb
        |  FROM ww a JOIN ww b ON a.source <> 'src0' AND b.source = 'src0'
        |    AND a.n <= b.n * 2.0 AND b.n <= a.n * 2.0)
        |SELECT id_a, id_b, inter / (na + nb - inter) AS jaccard
        |FROM p WHERE inter / (na + nb - inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // edges derived exactly as d2's oracle (minhashLsh provably equals
    // the exact jaccard pairs on this corpus), then transitive closure
    // via recursive CTE; min reachable id labels the component
    "d8_dedup_groups" -> d8GroupsOracleSql,
    // d21: d8's closure chain + singleton fill-in + the argmax by
    // (n_chars DESC, doc_id) replayed as a window rank
    "d21_canonical" ->
      s"""WITH $jaccardClosureCtes,
        |sz AS (SELECT group_id, count(*) AS group_size FROM comp
        |  GROUP BY group_id),
        |g AS (SELECT d.doc_id, COALESCE(c.group_id, d.doc_id) AS group_id,
        |    COALESCE(sz.group_size, 1) AS group_size, d.n_chars
        |  FROM documents d LEFT JOIN comp c USING (doc_id)
        |  LEFT JOIN sz ON sz.group_id = c.group_id),
        |r AS (SELECT g.*, row_number() OVER (PARTITION BY group_id
        |    ORDER BY n_chars DESC, doc_id) AS rn FROM g),
        |canon AS (SELECT group_id, doc_id AS canonical_id FROM r
        |  WHERE rn = 1)
        |SELECT g.doc_id, g.group_id, canon.canonical_id,
        |  g.doc_id = canon.canonical_id AS keep,
        |  CAST(g.group_size AS BIGINT) AS group_size
        |FROM g JOIN canon USING (group_id) ORDER BY g.doc_id""".stripMargin,
    // d10 is result-identical to d8 (different component algorithm,
    // same group contract), so it checks against the same SQL
    "d10_components_hashmin" -> d8GroupsOracleSql,
    "d4_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
        |    ELSE list_transform(generate_series(1, len(sp) - 2),
        |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
        |  FROM (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS sp FROM documents)),
        |ww AS (SELECT doc_id, sh, len(sh) AS n FROM w),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter, a.n AS na, b.n AS nb
        |  FROM ww a JOIN ww b ON a.doc_id < b.doc_id
        |    AND a.n <= b.n * 2.0 AND b.n <= a.n * 2.0)
        |SELECT id_a, id_b, inter / (na + nb - inter) AS jaccard
        |FROM p WHERE inter / (na + nb - inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // d18: the d4 string-set formulation with the DIRECTIONAL
    // predicate — ordered pairs, |A∩B| / |A|, B-size guard mirrored
    "d18_containment" ->
      """WITH w AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
        |    ELSE list_transform(generate_series(1, len(sp) - 2),
        |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
        |  FROM (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS sp FROM documents)),
        |ww AS (SELECT doc_id, sh, len(sh) AS n FROM w),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter, a.n AS na
        |  FROM ww a JOIN ww b ON a.doc_id <> b.doc_id
        |    AND b.n >= CAST(ceil(0.5 * a.n) AS BIGINT))
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / na AS containment
        |FROM p WHERE CAST(inter AS DOUBLE) / na >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "d5_embed_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    "s1_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT q.query_id, c.vec_id, list_cosine_similarity(qv, cv) AS sim
        |  FROM q JOIN c ON q.query_id <> c.vec_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
        |  vec_id AS neighbor_id, sim
        |FROM s QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // s28: both ranking systems replayed — the s1 double-cosine flat
    // chain and the s16 quantized probe chain — then intersected
    "s28_recall_audit" -> recallAuditOracleSql,
    // s32: the s1 cosine chain restricted to the labeled cohort, then
    // the vote argmax replayed as (votes DESC, label) window rank
    "s32_knn_classify" ->
      """WITH l AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
        |    vec_id % 3 AS label
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 5 <> 0),
        |s AS (SELECT q.query_id, l.vec_id, l.label,
        |    list_cosine_similarity(qv, cv) AS sim
        |  FROM q JOIN l ON q.query_id <> l.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, vec_id) AS rn FROM s),
        |v AS (SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes,
        |    max(sim) AS top_sim
        |  FROM r WHERE rn <= 5 GROUP BY query_id, label),
        |w AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY votes DESC, label) AS wr FROM v)
        |SELECT query_id, CAST(label AS BIGINT) AS label_pred, votes, top_sim
        |FROM w WHERE wr = 1 ORDER BY query_id""".stripMargin,
    // s29: lossless BQ staging + exact re-rank = s15/s16 verbatim
    "s29_vector_index_bq" -> ivfBalancedOracleSql,
    // s30: the full unrolled NN-descent chain (seed arms + 2 rounds)
    "s30_nn_descent" -> nnDescentOracleSql,
    // s33: full-probe serving through any graph == the exact integer-
    // cosine ranking over base ∪ appended (frozen scale 1024 — the
    // append-stable quantization contract)
    "s33_graph_refresh" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |corpus AS (SELECT vec_id, v FROM e0
        |  UNION ALL SELECT vec_id + 1000000000, v FROM e0 WHERE vec_id < 50),
        |en AS (SELECT vec_id, list_transform(v,
        |    x -> CAST(floor(x * 1024) AS BIGINT)) AS q FROM corpus),
        |en2 AS (SELECT vec_id, q,
        |  list_sum(list_transform(q, x -> x*x)) AS na FROM en),
        |qn AS (SELECT vec_id AS query_id, q AS qq, na AS qna FROM en2
        |  WHERE vec_id < 10),
        |sim AS (SELECT q.query_id, e.vec_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> q.qq[i] * e.q[i])) AS DOUBLE)
        |    / sqrt(CAST(q.qna AS DOUBLE) * e.na) AS sim
        |  FROM qn q CROSS JOIN en2 e WHERE e.vec_id <> q.query_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
        |  vec_id AS neighbor_id, sim
        |FROM sim QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // s31: probe + graph hop + exact re-rank, all replayed
    "s31_graph_serve" -> graphServeOracleSql,
    "q35_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
        |  (o_orderpriority, o_orderstatus), ())
        |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin,
    // s9's oracle regime (nprobe = clusters, unbounded candidates)
    // reduces the composed IVF-PQ pipeline to exact top-k, so the
    // brute-force SQL is the precise mirror
    "s10_kmeans" -> kmeansOracleSql,
    // s23: the power-iteration rounds replay CTE by CTE — same
    // quantization, same floor divisions, same rescale max
    "s23_pca_power" ->
      operators.Pca.principalDirectionOracleSql(dim = 64, iterations = 3),
    // s25: exact quantized inner products — BIGINT scores hash-check
    "s25_mips" ->
      """WITH e AS (SELECT vec_id, list_transform(
        |    CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor(x * 1024) AS BIGINT)) AS q FROM embeddings),
        |qn AS (SELECT vec_id AS query_id, q AS qq FROM e
        |  WHERE vec_id < 10),
        |s AS (SELECT qn.query_id, e.vec_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> qn.qq[i] * e.q[i])) AS BIGINT) AS ip
        |  FROM qn CROSS JOIN e WHERE e.vec_id <> qn.query_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY ip DESC, vec_id ASC) AS INT) AS "rank",
        |  vec_id AS neighbor_id, ip
        |FROM s QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // s26: the s15 centroid chain + a MIPS probe CTE (centroids
    // augmented against m2 = max(na) exactly like the engine's frozen
    // sidecar) + EXACT integer-IP ranking over the probed cells —
    // candidates >= probed rows makes the engine's augmented-cosine
    // staging invisible here (the s17/s22 oracle-regime argument)
    "s26_mips_index" -> mipsIndexOracleSql,
    // s24: the s23 chain at (scale 64, 2 rounds) + exact-integer
    // residuals + the s1-style ranked cosine — residual dots stay
    // BIGINT-exact, the final divide is one IEEE op on both engines
    "s24_abtt_topk" ->
      operators.Pca.abttTopKOracleSql(dim = 64, iterations = 2, k = 5),
    // s11: the same 2-iteration Lloyd mirror, seeded by the replayed
    // farthest-point greedy chain instead of first-k-by-id
    "s11_kmeans_pp" ->
      s"WITH $kmeansPpCtes\nSELECT vec_id, cid AS cluster FROM a2 ORDER BY vec_id",
    // s13: the Lloyd mirror's final centroids feed the unrolled
    // deferred-acceptance rounds — propose to best open centroid,
    // accept top-remaining by (cos, vec_id), carry rejects forward
    "s13_kmeans_balanced" -> kmeansBalancedOracleSql,
    // s15: the s13 chain's final centroids (cn) + capacity-bounded
    // assignment (accall) feed a probe + cell-restricted exact-integer
    // search — the whole ANN pipeline replays CTE by CTE
    "s15_ann_ivf_balanced" -> ivfBalancedOracleSql,
    // s16 shares s15's oracle VERBATIM: the materialized index changes
    // the read path (cell-partitioned parquet + partition pruning),
    // never the probe selection, scoring, or tie-breaks
    "s16_vector_index" -> ivfBalancedOracleSql,
    // s17 likewise: lossless ADC staging (candidates >= nprobe x
    // capacity) + exact re-rank = s15's answer bit for bit; a staging
    // or encode bug hash-mismatches
    "s17_vector_index_pq" -> ivfBalancedOracleSql,
    "s20_vector_index_delete" ->
      ivfBalancedOracleSqlWhere(" AND e.vec_id % 7 <> 3"),
    // s22 likewise: lossless SQ staging + exact re-rank = s15 verbatim
    "s22_vector_index_sq" -> ivfBalancedOracleSql,
    // s27: the knn graph is served from the same layout — the oracle
    // replays the build chain and the within-cell pair ranking
    "s27_knn_graph" -> knnGraphOracleSql,
    "d16_semantic_dedup_index" -> d16OracleSql,
    "c3_hybrid_index" -> c3OracleSql,
    // s21: the filter restricts only the candidate set — probe
    // selection and scoring are s15's chain verbatim
    "s21_vector_index_filtered" ->
      ivfBalancedOracleSqlWhere(
        " AND e.vec_id IN (SELECT vec_id FROM embeddings WHERE label >= 5)"),
    // s18: candidate pool + pairwise sims as CTEs, then each greedy
    // round is a (max-sim-to-selected, argmax, union) CTE triple —
    // the same unrolled-replay discipline as the k-means oracles
    "s18_mmr_diversify" -> mmrOracleSql,
    // full engine replay of the JL sketch-and-refine: same md5 sign
    // matrix, same fixed-point quantization, same integer projections,
    // candidate cut, and exact full-width re-rank
    "s19_ann_rp" ->
      """WITH p AS (SELECT vec_id, list_transform(generate_series(0, 15), j ->
        |    CAST(list_sum(list_transform(generate_series(0, 63), i ->
        |      (CASE WHEN ('0x' || substr(md5('rp:' || CAST(j AS VARCHAR)
        |          || ':' || CAST(i AS VARCHAR)), 1, 1))::INT % 2 = 0
        |        THEN 1 ELSE -1 END)
        |      * CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1048576.0)
        |          AS BIGINT))) AS BIGINT)) AS proj
        |  FROM embeddings),
        |qp AS (SELECT vec_id AS query_id, proj AS qv FROM p WHERE vec_id < 10),
        |ps AS (SELECT query_id, c.vec_id,
        |    CAST(list_sum(list_transform(generate_series(1, 16), j ->
        |      qv[j] * c.proj[j])) AS BIGINT) AS pdot
        |  FROM qp JOIN p c ON c.vec_id <> query_id),
        |cand AS (SELECT query_id, vec_id FROM ps
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY pdot DESC, vec_id ASC) <= 50),
        |fq AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS fv
        |  FROM embeddings),
        |e AS (SELECT c.query_id, c.vec_id,
        |    CAST(list_sum(list_transform(generate_series(1, 64), i ->
        |      a.fv[i] * b.fv[i])) AS BIGINT) AS dot_q
        |  FROM cand c
        |  JOIN fq a ON a.vec_id = c.query_id
        |  JOIN fq b ON b.vec_id = c.vec_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY dot_q DESC, vec_id ASC) AS INT) AS "rank",
        |  vec_id AS neighbor_id, dot_q
        |FROM e QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // d12: the balanced-assignment CTE chain (capacity = 64, the
    // entry's targetClusterSize) feeds the same cluster-restricted
    // pair join as d11
    "d12_semantic_dedup_balanced" ->
      s"""WITH ${kmeansBalancedCtes("CAST(64 AS BIGINT)")},
        |cl AS (SELECT vec_id, cid FROM accall),
        |ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(ea.v, eb.v) AS sim
        |  FROM cl a JOIN cl b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN ee ea ON ea.vec_id = a.vec_id
        |  JOIN ee eb ON eb.vec_id = b.vec_id)
        |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    // d13: the same 8-token windows, md5-hashed; a hash in >= 2
    // distinct docs marks every occurrence a duplicated span; coverage
    // = distinct positions under the union of [pos, pos+8) intervals.
    // md5 strings and the double division are engine-identical.
    "d13_substring_dup" ->
      """WITH spt AS (SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x <> '') AS sp FROM documents),
        |d AS (SELECT doc_id, sp, len(sp) AS ntok FROM spt
        |  WHERE len(sp) >= 8),
        |g AS (SELECT doc_id, ntok, unnest(list_transform(
        |    generate_series(0, ntok - 8),
        |    i -> {'pos': i, 'h': md5(array_to_string(sp[i+1:i+8], ' '))}))
        |    AS u FROM d),
        |gr AS (SELECT doc_id, ntok, u.pos AS pos, u.h AS h FROM g),
        |dup AS (SELECT h FROM gr GROUP BY h
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT gr.* FROM gr JOIN dup USING (h)),
        |spans AS (SELECT doc_id, count(*) AS n_dup_spans FROM hits
        |  GROUP BY 1),
        |cov AS (SELECT doc_id, ntok, count(DISTINCT p) AS dup_tokens
        |  FROM (SELECT doc_id, ntok,
        |      unnest(generate_series(pos, pos + 7)) AS p FROM hits)
        |  GROUP BY 1, 2)
        |SELECT s.doc_id, CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
        |  CAST(dup_tokens AS BIGINT) AS dup_tokens,
        |  CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(dup_tokens AS DOUBLE) / ntok AS dup_frac
        |FROM spans s JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // d17 serves d13's analysis from the materialized gram postings —
    // the layout changes the read path, never the answer, so the
    // oracle is d13's CTE chain verbatim
    // d19: d17's chain with the tombstoned docs removed at the source
    // — the engine's tombstone anti-join must equal this rebuild
    // d20: brute force IS the spec — the engine's blocked join must
    // equal the n² levenshtein join exactly
    "d20_typo_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  a.c_name AS name_a, b.c_name AS name_b
        |FROM customer a JOIN customer b
        |  ON a.c_name < b.c_name
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,
    "d19_gram_delete" ->
      """WITH spt AS (SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x <> '') AS sp FROM documents WHERE doc_id % 7 <> 3),
        |d AS (SELECT doc_id, sp, len(sp) AS ntok FROM spt
        |  WHERE len(sp) >= 8),
        |g AS (SELECT doc_id, ntok, unnest(list_transform(
        |    generate_series(0, ntok - 8),
        |    i -> {'pos': i, 'h': md5(array_to_string(sp[i+1:i+8], ' '))}))
        |    AS u FROM d),
        |gr AS (SELECT doc_id, ntok, u.pos AS pos, u.h AS h FROM g),
        |dup AS (SELECT h FROM gr GROUP BY h
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT gr.* FROM gr JOIN dup USING (h)),
        |spans AS (SELECT doc_id, count(*) AS n_dup_spans FROM hits
        |  GROUP BY 1),
        |cov AS (SELECT doc_id, ntok, count(DISTINCT p) AS dup_tokens
        |  FROM (SELECT doc_id, ntok,
        |      unnest(generate_series(pos, pos + 7)) AS p FROM hits)
        |  GROUP BY 1, 2)
        |SELECT s.doc_id, CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
        |  CAST(dup_tokens AS BIGINT) AS dup_tokens,
        |  CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(dup_tokens AS DOUBLE) / ntok AS dup_frac
        |FROM spans s JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "d17_substring_dup_index" ->
      """WITH spt AS (SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x <> '') AS sp FROM documents),
        |d AS (SELECT doc_id, sp, len(sp) AS ntok FROM spt
        |  WHERE len(sp) >= 8),
        |g AS (SELECT doc_id, ntok, unnest(list_transform(
        |    generate_series(0, ntok - 8),
        |    i -> {'pos': i, 'h': md5(array_to_string(sp[i+1:i+8], ' '))}))
        |    AS u FROM d),
        |gr AS (SELECT doc_id, ntok, u.pos AS pos, u.h AS h FROM g),
        |dup AS (SELECT h FROM gr GROUP BY h
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT gr.* FROM gr JOIN dup USING (h)),
        |spans AS (SELECT doc_id, count(*) AS n_dup_spans FROM hits
        |  GROUP BY 1),
        |cov AS (SELECT doc_id, ntok, count(DISTINCT p) AS dup_tokens
        |  FROM (SELECT doc_id, ntok,
        |      unnest(generate_series(pos, pos + 7)) AS p FROM hits)
        |  GROUP BY 1, 2)
        |SELECT s.doc_id, CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
        |  CAST(dup_tokens AS BIGINT) AS dup_tokens,
        |  CAST(ntok AS BIGINT) AS n_tokens,
        |  CAST(dup_tokens AS DOUBLE) / ntok AS dup_frac
        |FROM spans s JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // d14: same windows + min-doc canonical rule; kept tokens
    // reassembled in position order (string_agg ORDER BY i mirrors
    // the filter-by-index), every doc emitted
    "d14_substring_rm" ->
      """WITH spt AS (SELECT doc_id, list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x <> '') AS sp FROM documents),
        |d AS (SELECT doc_id, sp, len(sp) AS ntok FROM spt
        |  WHERE len(sp) >= 8),
        |g AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(0, ntok - 8),
        |    i -> {'pos': i, 'h': md5(array_to_string(sp[i+1:i+8], ' '))}))
        |    AS u FROM d),
        |gr AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM g),
        |dm AS (SELECT h, min(doc_id) AS keeper FROM gr GROUP BY h
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT gr.doc_id, gr.pos FROM gr JOIN dm USING (h)
        |  WHERE gr.doc_id <> dm.keeper),
        |dpos AS (SELECT DISTINCT doc_id, p FROM (SELECT doc_id,
        |    unnest(generate_series(pos, pos + 7)) AS p FROM hits)),
        |nd AS (SELECT doc_id, count(*) AS n_dropped FROM dpos
        |  GROUP BY 1),
        |tk AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(sp)),
        |    i -> {'i': i - 1, 't': sp[i]})) AS u FROM spt),
        |kept AS (SELECT tk.doc_id, u.i AS i, u.t AS t FROM tk
        |  LEFT JOIN dpos ON dpos.doc_id = tk.doc_id AND dpos.p = u.i
        |  WHERE dpos.p IS NULL),
        |ct AS (SELECT doc_id, string_agg(t, ' ' ORDER BY i)
        |    AS clean_text FROM kept GROUP BY 1)
        |SELECT s.doc_id, CAST(len(s.sp) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(nd.n_dropped, 0) AS BIGINT) AS n_dropped,
        |  coalesce(ct.clean_text, '') AS clean_text
        |FROM spt s LEFT JOIN nd USING (doc_id)
        |  LEFT JOIN ct ON ct.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    // d11: the k-means CTEs feed a cluster-restricted exact pair join;
    // sims are the same bit-exact double cosine as s1/d5
    "d11_semantic_dedup" ->
      s"""WITH $kmeansCtes,
        |cl AS (SELECT vec_id, cid FROM a2),
        |ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(ea.v, eb.v) AS sim
        |  FROM cl a JOIN cl b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  JOIN ee ea ON ea.vec_id = a.vec_id
        |  JOIN ee eb ON eb.vec_id = b.vec_id)
        |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    "s9_ann_ivfpq" -> bruteForceTop5OracleSql,
    // s12's oracle regime reduces identically: with nprobe = clusters
    // and unbounded candidates the exact re-rank sees every row, so
    // residual-vs-raw encoding cannot change the output
    "s12_ann_ivfpq_res" -> bruteForceTop5OracleSql,
    // s14: full probe + unbounded candidates reduce the per-cell
    // budgeted pipeline to exact top-k, like the rest of the ladder
    "s14_ann_ivfpq_cell" -> bruteForceTop5OracleSql,
    // s2's LSH table count guarantees recall >= 1-1e-4 per neighbor at
    // cosine >= 0.2 (all true top-5 sims here exceed that), so the
    // approximate operator must reproduce exact brute-force top-k —
    // the strongest check an ANN op can get from a SQL oracle
    "s2_ann_lsh" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT q.query_id, c.vec_id, list_cosine_similarity(qv, cv) AS sim
        |  FROM q JOIN c ON q.query_id <> c.vec_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
        |  vec_id AS neighbor_id, sim
        |FROM s QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    "s3_knn_join" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE label = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE label >= 5),
        |s AS (SELECT q.query_id, c.vec_id, list_cosine_similarity(qv, cv) AS sim
        |  FROM q JOIN c ON q.query_id <> c.vec_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
        |  vec_id AS neighbor_id, sim
        |FROM s QUALIFY "rank" <= 3 ORDER BY query_id, "rank"""".stripMargin,
    "x1_langid" ->
      """WITH t AS (SELECT doc_id, lang AS lang_actual,
        |  list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |sc AS (SELECT doc_id, lang_actual,
        |  len(list_intersect(w, ['der','die','das','und','nicht','ist'])) AS s_de,
        |  len(list_intersect(w, ['the','and','of','is','to','in'])) AS s_en,
        |  len(list_intersect(w, ['el','la','de','que','los','una'])) AS s_es,
        |  len(list_intersect(w, ['le','la','et','les','des','une'])) AS s_fr
        |  FROM t)
        |SELECT doc_id, lang_actual,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |    WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |    ELSE 'fr' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,
    "x2_quality" ->
      """WITH m AS (SELECT doc_id, length(text) AS nc,
        |  len(string_split_regex(trim(text), '\s+')) AS nt,
        |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS np,
        |  length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS nu,
        |  len(list_intersect(list_distinct(string_split_regex(trim(text), '\s+')),
        |    ['the','and','of','is','to','in','a','that','it','for'])) AS st
        |  FROM documents)
        |SELECT doc_id, CAST(nt AS INT) AS n_tokens,
        |  np / nc AS punct_ratio, nu / nc AS upper_ratio,
        |  CAST(st AS INT) AS stopword_hits,
        |  (nc - (nt - 1)) / nt AS avg_token_len,
        |  least(nt / 100.0, 1.0) * 0.5 + least(st / 5.0, 1.0) * 0.3 +
        |    (CASE WHEN np / nc < 0.1 THEN 0.2 ELSE 0.0 END) AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,
    "x3_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
        |    AS bpe_ish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q25_lateral" ->
      """SELECT n.n_name, c.c_name, c.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        |ORDER BY n.n_name, c.c_acctbal DESC, c.c_name""".stripMargin,
    // exact below k=1024: every pair's distinct-union fits the sketch
    "a3_kmv_overlap" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |t AS (SELECT DISTINCT event_type FROM events),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |  FROM t a JOIN t b ON a.event_type < b.event_type),
        |i AS (SELECT ua.event_type AS ta, ub.event_type AS tb,
        |    count(*) AS inter
        |  FROM u ua JOIN u ub ON ua.user_id = ub.user_id
        |    AND ua.event_type < ub.event_type
        |  GROUP BY 1, 2),
        |c AS (SELECT event_type, count(*) AS n FROM u GROUP BY 1)
        |SELECT p.type_a, p.type_b,
        |  COALESCE(i.inter, 0) / (ca.n + cb.n - COALESCE(i.inter, 0))
        |    AS jaccard_est,
        |  CAST(COALESCE(i.inter, 0) AS DOUBLE) AS intersect_est,
        |  CAST(ca.n + cb.n - COALESCE(i.inter, 0) AS DOUBLE) AS union_est
        |FROM p LEFT JOIN i ON p.type_a = i.ta AND p.type_b = i.tb
        |JOIN c ca ON ca.event_type = p.type_a
        |JOIN c cb ON cb.event_type = p.type_b
        |ORDER BY 1, 2""".stripMargin,
    // exact regime: every estimate equals the true distinct count of
    // its class, so plain DISTINCT-count SQL is the precise mirror
    "a5_sketch_algebra" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |t AS (SELECT DISTINCT event_type FROM events),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |  FROM t a JOIN t b ON a.event_type < b.event_type),
        |i AS (SELECT ua.event_type AS ta, ub.event_type AS tb,
        |    count(*) AS inter
        |  FROM u ua JOIN u ub ON ua.user_id = ub.user_id
        |    AND ua.event_type < ub.event_type
        |  GROUP BY 1, 2),
        |c AS (SELECT event_type, count(*) AS n FROM u GROUP BY 1)
        |SELECT p.type_a, p.type_b,
        |  CAST(ca.n + cb.n - COALESCE(i.inter, 0) AS DOUBLE) AS union_est,
        |  CAST(COALESCE(i.inter, 0) AS DOUBLE) AS intersect_est,
        |  CAST(ca.n - COALESCE(i.inter, 0) AS DOUBLE) AS diff_left_est,
        |  CAST(cb.n - COALESCE(i.inter, 0) AS DOUBLE) AS diff_right_est
        |FROM p LEFT JOIN i ON p.type_a = i.ta AND p.type_b = i.tb
        |JOIN c ca ON ca.event_type = p.type_a
        |JOIN c cb ON cb.event_type = p.type_b
        |ORDER BY 1, 2""".stripMargin,
    "a7_weighted_sample" ->
      s"""WITH s AS (SELECT doc_id, lang, n_chars,
        |    ${operators.CorpusOps.weightedSampleSql("doc_id::VARCHAR",
               "n_chars")} AS key
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, lang, n_chars FROM
        |  (SELECT * FROM s ORDER BY key DESC, doc_id ASC LIMIT 50)
        |ORDER BY doc_id""".stripMargin,
    // full engine replay of the HLL register table and raw estimator:
    // same md5 hashes, same bin()-derived rho, same fixed-point
    // harmonic sum, one deterministic double division at the end
    // a10: same exact bucketing (bit-length of cents), same integer
    // cumulative thresholds, same shifted bounds
    "a10_ddsketch" ->
      """WITH c0 AS (SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents FROM lineitem),
        |c AS (SELECT * FROM c0 WHERE cents > 0),
        |b AS (SELECT l_returnflag, CAST(length(bin(cents)) AS INT)
        |    AS bucket FROM c),
        |g AS (SELECT l_returnflag, bucket, count(*) AS cnt FROM b
        |  GROUP BY 1, 2),
        |cum AS (SELECT l_returnflag, bucket, cnt,
        |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket)
        |      AS cum,
        |    sum(cnt) OVER (PARTITION BY l_returnflag) AS tot FROM g),
        |f AS (SELECT l_returnflag, CAST(max(tot) AS BIGINT) AS n,
        |    min(CASE WHEN cum*100 >= 50*tot THEN bucket END) AS p50_bucket,
        |    min(CASE WHEN cum*100 >= 95*tot THEN bucket END) AS p95_bucket,
        |    min(CASE WHEN cum*100 >= 99*tot THEN bucket END) AS p99_bucket
        |  FROM cum GROUP BY 1)
        |SELECT l_returnflag, n,
        |  p50_bucket, (1::BIGINT << (p50_bucket - 1)) AS p50_lo,
        |    (1::BIGINT << p50_bucket) - 1 AS p50_hi,
        |  p95_bucket, (1::BIGINT << (p95_bucket - 1)) AS p95_lo,
        |    (1::BIGINT << p95_bucket) - 1 AS p95_hi,
        |  p99_bucket, (1::BIGINT << (p99_bucket - 1)) AS p99_lo,
        |    (1::BIGINT << p99_bucket) - 1 AS p99_hi
        |FROM f ORDER BY l_returnflag""".stripMargin,
    "a9_hll" ->
      """WITH h AS (SELECT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |rho AS (SELECT event_type, h & 63 AS b,
        |    CASE WHEN (h >> 6) = 0 THEN 55
        |      ELSE 55 - length(bin(h >> 6)) END AS rho
        |  FROM h),
        |got AS (SELECT event_type, b, max(rho) AS r FROM rho GROUP BY 1, 2),
        |regs AS (SELECT a.event_type, u.b, coalesce(g.r, 0) AS r
        |  FROM (SELECT DISTINCT event_type FROM events) a
        |  CROSS JOIN unnest(generate_series(0, 63)) AS u(b)
        |  LEFT JOIN got g ON g.event_type = a.event_type AND g.b = u.b),
        |agg AS (SELECT event_type,
        |    CAST(sum(1::BIGINT << (55 - r)) AS BIGINT) AS s_fixed,
        |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zero_regs
        |  FROM regs GROUP BY 1),
        |fin AS (SELECT event_type,
        |    CAST(floor(0.709 * 64 * 64 /
        |      (CAST(s_fixed AS DOUBLE) / 36028797018963968.0)) AS BIGINT)
        |      AS est_distinct,
        |    zero_regs FROM agg),
        |t AS (SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS true_distinct
        |  FROM events GROUP BY 1)
        |SELECT f.event_type, est_distinct, zero_regs, true_distinct
        |FROM fin f JOIN t USING (event_type) ORDER BY event_type""".stripMargin,
    // full engine replay of the Count-Min counter matrix: same
    // md5-bucket hashes, same integer sums, same row-minimum estimate
    "a8_countmin" ->
      """WITH ks AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
        |  WHERE user_id IS NOT NULL),
        |e AS (SELECT k, r FROM ks, unnest([0, 1, 2, 3]) AS u(r)),
        |sk AS (SELECT r,
        |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || k), 1, 15))::BIGINT
        |      % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2),
        |q AS (SELECT DISTINCT user_id FROM events WHERE user_id < 50),
        |p AS (SELECT user_id, r,
        |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
        |      || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket
        |  FROM q, unnest([0, 1, 2, 3]) AS u(r)),
        |est AS (SELECT user_id, min(coalesce(c, CAST(0 AS BIGINT))) AS est
        |  FROM p LEFT JOIN sk USING (r, bucket) GROUP BY 1),
        |t AS (SELECT user_id, CAST(count(*) AS BIGINT) AS true_n
        |  FROM events WHERE user_id < 50 GROUP BY 1)
        |SELECT est.user_id, est, true_n, est - true_n AS overcount
        |FROM est JOIN t USING (user_id) ORDER BY user_id""".stripMargin,
    // exact regime: per-lang vocab (31) < capacity (64), so MG counts
    // equal true counts and the tie-break is (freq desc, token asc)
    "a6_heavy_hitters" ->
      """WITH tok AS (SELECT lang,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |f AS (SELECT lang, token, count(*) AS freq FROM tok
        |  WHERE token <> '' GROUP BY 1, 2),
        |r AS (SELECT lang, token, CAST(freq AS BIGINT) AS freq,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY freq DESC, token ASC) AS INT) AS "rank" FROM f)
        |SELECT lang, "rank", token, freq FROM r WHERE "rank" <= 10
        |ORDER BY lang, "rank"""".stripMargin,
    "x5_split" ->
      s"""SELECT ${operators.CorpusOps.hashSplitSql("doc_id::VARCHAR")} AS "split",
        |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "x9_sample" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
        |WHERE ${operators.CorpusOps.stratifiedSampleSql("doc_id::VARCHAR",
             "lang", Seq("en" -> 0.5, "zh" -> 0.25), 0.1)}
        |ORDER BY doc_id""".stripMargin,
    "x10_chunk" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    list_transform(range(0, greatest(len(toks)-1, 0)+1, 48),
        |      st -> array_to_string(toks[st+1 : st+64], ' ')) AS chunks
        |  FROM t),
        |u AS (SELECT doc_id, unnest(list_transform(range(len(chunks)),
        |    i -> {'chunk_id': CAST(i AS INT), 'chunk': chunks[i+1]}),
        |    recursive := true)
        |  FROM c)
        |SELECT doc_id, chunk_id,
        |  CAST(len(string_split_regex(chunk, '\s+')) AS INT) AS n_tokens,
        |  md5(chunk) AS chunk_md5
        |FROM u ORDER BY doc_id, chunk_id""".stripMargin,
    "x11_pack" ->
      """WITH t AS (SELECT lang, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT lang, doc_id, n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        |    / 2048) AS BIGINT) AS pack_id
        |FROM t ORDER BY lang, doc_id""".stripMargin,
    "x12_bm25" -> bm25OracleSql,
    // x21 shares x12's oracle VERBATIM: the materialized index changes
    // where postings come from (bucketed parquet, partition-pruned to
    // the query terms' buckets), not one bit of the scoring arithmetic
    "x21_indexed_bm25" -> bm25OracleSql,
    // c7: changelog-fed append == full rebuild == the plain scorer
    "c7_changelog_refresh" -> bm25OracleSql,
    // c8: incremental == full recompute — two refreshes must land on
    // exactly the one-shot aggregate of the whole table
    "c8_incremental_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // c13: the maintained state == the final table state's aggregate
    // — update cohort doubled, deleted cohorts absent, appended batch
    // present; any retraction drift or double-count breaks the hash
    "c13_view_maintain" ->
      """WITH final AS (
        |  SELECT event_type,
        |    CASE WHEN user_id BETWEEN 3 AND 9 THEN value * 2
        |         ELSE value END AS value
        |  FROM events
        |  WHERE event_id % 3 = 0 AND NOT (user_id BETWEEN 12 AND 13)
        |  UNION ALL
        |  SELECT event_type, value FROM events WHERE event_id % 3 = 1
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    "x28_index_delete" -> bm25OracleSqlWhere(" WHERE doc_id % 9 <> 4"),
    // x20: per-query chained joins over the same positional postings —
    // slot i joins slot i-1 on (same doc, later position, inside the
    // 10-token span); tf = distinct chain starts
    "x20_slop_bm25" -> slopOracleSql,
    // x19: same positional postings; an anchor (any query-term
    // posting) qualifies when all distinct query terms appear in
    // [pos, pos+8); BM25 over (span count, qualifying-doc df)
    "x19_prox_bm25" ->
      s"""WITH spt AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\\s+') AS sp
        |  FROM documents),
        |tokp AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(sp)),
        |    i -> {'pos': i, 'term': sp[i]})) AS u FROM spt),
        |p AS (SELECT doc_id, u.pos AS pos, u.term AS term FROM tokp
        |  WHERE u.term <> ''),
        |qt(query_id, term) AS (VALUES $bm25QueriesSqlValues),
        |ql AS (SELECT query_id, count(DISTINCT term) AS qlen FROM qt
        |  GROUP BY 1),
        |an AS (SELECT qt.query_id, p.doc_id, p.pos, p.term
        |  FROM p JOIN qt USING (term)),
        |sp2 AS (SELECT a.query_id, a.doc_id, a.pos,
        |    count(DISTINCT b.term) AS nterm
        |  FROM an a JOIN an b ON a.query_id = b.query_id
        |    AND a.doc_id = b.doc_id
        |    AND b.pos >= a.pos AND b.pos < a.pos + 8
        |  GROUP BY 1, 2, 3),
        |occ AS (SELECT sp2.query_id, sp2.doc_id FROM sp2
        |  JOIN ql USING (query_id) WHERE sp2.nterm = ql.qlen),
        |pf AS (SELECT query_id, doc_id, count(*) AS pf FROM occ
        |  GROUP BY 1, 2),
        |dfq AS (SELECT query_id, count(*) AS df FROM pf GROUP BY 1),
        |tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
        |st AS (SELECT count(*) AS n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |sc AS (SELECT pf.query_id, pf.doc_id,
        |    ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
        |      (pf.pf * 2.2) /
        |      (pf.pf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS score
        |  FROM pf JOIN dfq USING (query_id) JOIN dl USING (doc_id)
        |    CROSS JOIN st)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id ASC) AS INT) AS "rank", doc_id
        |FROM sc QUALIFY "rank" <= 10
        |ORDER BY query_id, "rank"""".stripMargin,
    // x18: positional postings via an indexed-struct unnest; anchor
    // voting (pos - slot), an anchor holding all qlen distinct slots
    // is one contiguous occurrence; BM25 over (pf, phrase-df)
    "x18_phrase_bm25" ->
      s"""WITH spt AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\\s+') AS sp
        |  FROM documents),
        |tokp AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(sp)),
        |    i -> {'pos': i, 'term': sp[i]})) AS u FROM spt),
        |p AS (SELECT doc_id, u.pos AS pos, u.term AS term FROM tokp
        |  WHERE u.term <> ''),
        |qp(query_id, off, term) AS (VALUES $phraseSlotsSqlValues),
        |ql(query_id, qlen) AS (VALUES $phraseLensSqlValues),
        |an AS (SELECT qp.query_id, p.doc_id, p.pos - qp.off AS anchor,
        |    count(DISTINCT qp.off) AS nslots
        |  FROM p JOIN qp USING (term) GROUP BY 1, 2, 3),
        |occ AS (SELECT an.query_id, an.doc_id FROM an
        |  JOIN ql USING (query_id) WHERE an.nslots = ql.qlen),
        |pf AS (SELECT query_id, doc_id, count(*) AS pf FROM occ
        |  GROUP BY 1, 2),
        |dfq AS (SELECT query_id, count(*) AS df FROM pf GROUP BY 1),
        |tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
        |st AS (SELECT count(*) AS n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |sc AS (SELECT pf.query_id, pf.doc_id,
        |    ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
        |      (pf.pf * 2.2) /
        |      (pf.pf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS score
        |  FROM pf JOIN dfq USING (query_id) JOIN dl USING (doc_id)
        |    CROSS JOIN st)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id ASC) AS INT) AS "rank", doc_id
        |FROM sc QUALIFY "rank" <= 10
        |ORDER BY query_id, "rank"""".stripMargin,
    "x13_tfidf" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |st AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.term,
        |    tf.tf * ln(CAST(st.n AS DOUBLE) / dfq.df) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN st)
        |SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS INT) AS "rank", term
        |FROM sc QUALIFY "rank" <= 3
        |ORDER BY doc_id, "rank"""".stripMargin,
    "x17_safe_split" ->
      s"""WITH $jaccardClosureCtes,
        |g AS (SELECT d.doc_id, d.lang,
        |    coalesce(c.group_id, d.doc_id) AS grp
        |  FROM documents d LEFT JOIN comp c USING (doc_id))
        |SELECT doc_id, lang,
        |  ${operators.CorpusOps.hashSplitSql("grp::VARCHAR")} AS "split"
        |FROM g ORDER BY doc_id""".stripMargin,
    "x15_shuffle" -> {
      val (shard, h) = operators.CorpusOps.shardShuffleSql("doc_id::VARCHAR", 1024)
      s"""WITH s AS (SELECT doc_id, $shard AS shard, $h AS h FROM documents)
        |SELECT shard, CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY h, doc_id) AS BIGINT) AS pos, doc_id
        |FROM s ORDER BY shard, pos""".stripMargin
    },
    "x24_group_cap" -> {
      val sel = operators.CorpusOps.capPerGroupSql(
        "doc_id::VARCHAR", "source", 20)
      s"""SELECT doc_id, source FROM documents
         |QUALIFY $sel
         |ORDER BY source, doc_id""".stripMargin
    },
    "x16_budget_mix" ->
      """WITH t AS (SELECT lang, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens FROM documents),
        |c AS (SELECT lang, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang, doc_id, n_tokens FROM c
        |WHERE cum - n_tokens < 2000 ORDER BY lang, doc_id""".stripMargin,
    // x22: the merge loop unrolled — one MATERIALIZED (pairs, winner,
    // rewrite) CTE triple per round; string rewrites are non-regex
    // left-to-right replaces, identical in both engines
    "x22_bpe_train" -> operators.Bpe.trainMergesOracleSql(12),
    // x23: the final rewrite CTE holds every word's post-merge
    // tokenization — encoding is a per-doc word unnest + lookup join
    "x23_bpe_encode" -> operators.Bpe.encodeOracleSql(12),
    // x25: x12's BM25 chain + s1's cosine chain (query vectors 1..3),
    // fused by exact-integer RRF — 142813628717760 = lcm(61..70), so
    // every 1/(60+rank) is the exact integer L/(60+rank) and the
    // fused score is an exact BIGINT sum in both engines
    "x25_hybrid_rrf" ->
      s"""WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
        |st AS (SELECT count(*) AS n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |qt(query_id, term) AS (VALUES $bm25QueriesSqlValues),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT qt.query_id, tf.doc_id,
        |    ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
        |    JOIN qt USING (term) CROSS JOIN st),
        |agg AS (SELECT query_id, doc_id, sum(s) AS score FROM sc
        |  GROUP BY 1, 2),
        |lex AS (SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS r
        |  FROM agg QUALIFY r <= 10),
        |qv AS (SELECT CAST(vec_id AS INT) AS query_id,
        |    CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings
        |  WHERE vec_id IN (1, 2, 3)),
        |cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec
        |  FROM embeddings),
        |vs AS (SELECT q.query_id, c.vec_id AS doc_id,
        |    list_cosine_similarity(qvec, cvec) AS sim
        |  FROM qv q JOIN cv c ON q.query_id <> c.vec_id),
        |vec AS (SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, doc_id ASC) AS r
        |  FROM vs QUALIFY r <= 10),
        |u AS (SELECT query_id, doc_id, r FROM lex
        |  UNION ALL SELECT query_id, doc_id, r FROM vec),
        |f AS (SELECT query_id, doc_id,
        |    sum(142813628717760 // (60 + r)) AS rrf_score,
        |    count(*) AS n_lists FROM u GROUP BY 1, 2)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS "rank",
        |  doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
        |  CAST(n_lists AS BIGINT) AS n_lists
        |FROM f QUALIFY "rank" <= 10
        |ORDER BY query_id, "rank"""".stripMargin,
    "x14_lm_score" ->
      """WITH spt AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS sp FROM documents),
        |gr AS (SELECT doc_id, unnest(CASE WHEN len(sp) < 2
        |    THEN [array_to_string(sp, ' ')]
        |    ELSE list_transform(generate_series(1, len(sp) - 1),
        |      i -> sp[i] || ' ' || sp[i+1]) END) AS g FROM spt),
        |c2 AS (SELECT g, count(*) AS c2 FROM gr GROUP BY 1),
        |c1 AS (SELECT string_split(g, ' ')[1] AS w1,
        |    CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |lm AS (SELECT g, ln(CAST(c2.c2 AS DOUBLE) / c1.c1) AS lnp
        |  FROM c2 JOIN c1 ON string_split(c2.g, ' ')[1] = c1.w1),
        |sc AS (SELECT gr.doc_id, sum(lnp) AS s, count(*) AS nb
        |  FROM gr JOIN lm USING (g) GROUP BY 1),
        |q AS (SELECT doc_id,
        |    CAST(floor(s / nb * 1048576.0) AS BIGINT) AS score_q,
        |    CAST(nb AS BIGINT) AS n_bigrams FROM sc)
        |SELECT doc_id, score_q, n_bigrams FROM
        |  (SELECT * FROM q ORDER BY score_q ASC, doc_id ASC LIMIT 20)
        |ORDER BY doc_id""".stripMargin,
    "x6_vocab" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |    AS token FROM documents),
        |f AS (SELECT token, count(*) AS freq FROM tok WHERE token <> ''
        |  GROUP BY token),
        |r AS (SELECT token, freq, CAST(row_number() OVER
        |    (ORDER BY freq DESC, token ASC) AS INT) AS "rank" FROM f)
        |SELECT token, freq, "rank" FROM r WHERE "rank" <= 100
        |ORDER BY "rank"""".stripMargin,
    "x32_textrank" -> textrankOracleSql,
    // x31: same tokenization (lower+trim+\s+ split), same counts,
    // same left-associated double lift expression, same tie order
    "x31_collocations" ->
      """WITH sp AS (SELECT string_split_regex(trim(lower(text)), '\s+')
        |    AS sp FROM documents),
        |un AS (SELECT unnest(sp) AS t FROM sp),
        |uc AS (SELECT t, count(*) AS c FROM un GROUP BY 1),
        |bi AS (SELECT unnest(list_transform(
        |    generate_series(1, len(sp) - 1),
        |    i -> {'a': sp[i], 'b': sp[i+1]})) AS bg
        |  FROM sp WHERE len(sp) >= 2),
        |bc AS (SELECT bg.a AS a, bg.b AS b, count(*) AS n_ab FROM bi
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |tot AS (SELECT (SELECT count(*) FROM un) AS nu,
        |  (SELECT count(*) FROM bi) AS nb),
        |sc AS (SELECT s.a, s.b, s.n_ab,
        |    CAST(s.n_ab AS DOUBLE) * tot.nu * tot.nu /
        |      (CAST(tot.nb AS DOUBLE) * ua.c * ub.c) AS lift
        |  FROM bc s JOIN uc ua ON ua.t = s.a
        |    JOIN uc ub ON ub.t = s.b, tot)
        |SELECT a AS term_a, b AS term_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  lift, CAST(row_number() OVER (ORDER BY lift DESC, a ASC, b ASC)
        |    AS INT) AS "rank"
        |FROM sc QUALIFY "rank" <= 50 ORDER BY "rank"""".stripMargin,
    "x26_ngram_stats" ->
      """WITH g AS (SELECT doc_id,
        |  CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
        |    ELSE list_transform(generate_series(1, len(sp) - 2),
        |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END AS grams
        |  FROM (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS sp FROM documents)),
        |u AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |f AS (SELECT gram, CAST(count(*) AS BIGINT) AS freq,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        |  FROM u GROUP BY 1),
        |r AS (SELECT gram, freq, doc_freq, CAST(row_number() OVER
        |    (ORDER BY freq DESC, gram ASC) AS INT) AS "rank" FROM f)
        |SELECT gram, freq, doc_freq, "rank" FROM r WHERE "rank" <= 50
        |ORDER BY "rank"""".stripMargin,
    "x7_repetition" ->
      """WITH g AS (SELECT doc_id,
        |  CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
        |    ELSE list_transform(generate_series(1, len(sp) - 2),
        |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END AS grams
        |  FROM (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS sp FROM documents))
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS total_ngrams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_ngrams,
        |  (len(grams) - len(list_distinct(grams))) / CAST(len(grams) AS DOUBLE)
        |    AS dup_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    "x8_pii" ->
      s"""WITH s1 AS (SELECT doc_id, text,
        |  CAST(len(regexp_extract_all(text, '${operators.CorpusOps.EmailRe}')) AS INT)
        |    AS n_emails,
        |  regexp_replace(text, '${operators.CorpusOps.EmailRe}', '[EMAIL]', 'g') AS t1
        |  FROM documents),
        |s2 AS (SELECT doc_id, n_emails,
        |  CAST(len(regexp_extract_all(t1, '${operators.CorpusOps.PhoneRe}')) AS INT)
        |    AS n_phones,
        |  regexp_replace(t1, '${operators.CorpusOps.PhoneRe}', '[PHONE]', 'g') AS t2
        |  FROM s1),
        |s3 AS (SELECT doc_id, n_emails, n_phones,
        |  CAST(len(regexp_extract_all(t2, '${operators.CorpusOps.Ipv4Re}')) AS INT)
        |    AS n_ips,
        |  regexp_replace(t2, '${operators.CorpusOps.Ipv4Re}', '[IP]', 'g') AS t3
        |  FROM s2)
        |SELECT doc_id, n_emails, n_phones, n_ips, md5(t3) AS masked_md5
        |FROM s3 ORDER BY doc_id""".stripMargin,
    "d7_decontam" ->
      """WITH g AS (SELECT doc_id, source,
        |  CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
        |    ELSE list_transform(generate_series(1, len(sp) - 2),
        |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END AS grams
        |  FROM (SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS sp FROM documents)),
        |b AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = 'src0'),
        |c AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM g
        |  WHERE source <> 'src0')
        |SELECT c.doc_id, count(*) AS n_overlap FROM c JOIN b USING (gram)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "x27_quality_classifier" -> x27OracleSql,
    "d3_dedup_simhash" -> d3OracleSql,
    "d6_corpus_overlap" -> d6OracleSql,
    "x4_fingerprint" -> x4OracleSql,
    "s4_ann_ivf" ->
      // full-probe IVF == exhaustive search, so the oracle is exact
      // brute-force top-k (same tie-break: sim desc, id asc)
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT q.query_id, c.vec_id, list_cosine_similarity(qv, cv) AS sim
        |  FROM q JOIN c ON q.query_id <> c.vec_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
        |  vec_id AS neighbor_id, sim
        |FROM s QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    "p1_profile" -> p1OracleSql,
    "p2_profile_windowed" ->
      """WITH w AS (SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |    '%Y-%m-%d %H:%M:%S') AS window_start, event_type, user_id
        |  FROM events)
        |SELECT * FROM (
        |  SELECT window_start, 'event_type' AS "column", 'string' AS "type",
        |    count(*) AS n_rows,
        |    CAST(count(*) - count(event_type) AS BIGINT) AS n_nulls,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS approx_distinct,
        |    min(CAST(event_type AS VARCHAR)) AS min_value,
        |    max(CAST(event_type AS VARCHAR)) AS max_value
        |  FROM w GROUP BY 1
        |  UNION ALL
        |  SELECT window_start, 'user_id' AS "column", 'bigint' AS "type",
        |    count(*) AS n_rows,
        |    CAST(count(*) - count(user_id) AS BIGINT) AS n_nulls,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS approx_distinct,
        |    min(CAST(user_id AS VARCHAR)) AS min_value,
        |    max(CAST(user_id AS VARCHAR)) AS max_value
        |  FROM w GROUP BY 1)
        |ORDER BY window_start, "column"""".stripMargin,
    // s6/s7: the SQ8 dequantization is deterministic IEEE arithmetic,
    // so DuckDB mirrors the approximate scores exactly (list_cosine_
    // similarity == index-ordered double accumulation, verified)
    "s6_ann_sq" ->
      s"""WITH $sqDequantCtes,
        |s AS (SELECT q.vec_id AS query_id, dq.vec_id,
        |    list_cosine_similarity(q.v, dq.dv) AS sim
        |  FROM (SELECT * FROM e WHERE vec_id < 10) q
        |  JOIN dq ON q.vec_id <> dq.vec_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
        |  vec_id AS neighbor_id, sim
        |FROM s QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    "s8_ann_pq" -> pqOracleSql,
    "s7_ann_ivfsq" ->
      s"""WITH $sqDequantCtes,
        |a AS (SELECT q.vec_id AS query_id, q.v AS qv, dq.vec_id,
        |    list_cosine_similarity(q.v, dq.dv) AS asim
        |  FROM (SELECT * FROM e WHERE vec_id < 10) q
        |  JOIN dq ON q.vec_id <> dq.vec_id),
        |c AS (SELECT query_id, qv, vec_id FROM a
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY asim DESC, vec_id ASC) <= 20),
        |x AS (SELECT c.query_id, c.vec_id,
        |    list_cosine_similarity(c.qv, e.v) AS sim
        |  FROM c JOIN e ON c.vec_id = e.vec_id)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
        |  vec_id AS neighbor_id, sim
        |FROM x QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // m1: the Spark side ASSEMBLES real PNG/JPEG/WAVE containers around
    // the text payload and then PARSES the metadata back out of the raw
    // bytes; the oracle recomputes the same numbers arithmetically from
    // `documents` (header constants + byte sums via hex-pair extraction),
    // so a parse that read the wrong offset/endianness would hash-mismatch
    "m1_multimodal" ->
      """WITH b AS (SELECT doc_id,
        |  CASE WHEN source < 'src4' THEN 'png'
        |       WHEN source < 'src8' THEN 'jpg' ELSE 'wav' END AS fmt,
        |  CAST(n_chars % 640 + 16 AS INT) AS w,
        |  CAST((n_chars * 7) % 480 + 16 AS INT) AS h,
        |  CAST(n_chars % 2 + 1 AS INT) AS ch,
        |  CAST(n_chars % 8 * 1000 + 8000 AS INT) AS rate,
        |  octet_length(encode(text)) AS plen,
        |  hex(encode(text)) AS hx,
        |  CAST(coalesce(list_sum(list_transform(range(1, octet_length(encode(text)) + 1),
        |    i -> CAST('0x' || substr(hex(encode(text)), 2*i-1, 2) AS INT))), 0)
        |    AS BIGINT) AS psum
        |  FROM documents),
        |s AS (SELECT *,
        |  CAST(CASE fmt WHEN 'png' THEN 29 WHEN 'jpg' THEN 21 ELSE 44 END
        |    + plen AS INT) AS blen,
        |  (w % 256) + (w // 256 % 256) AS wsum,
        |  (h % 256) + (h // 256 % 256) AS hsum,
        |  ((plen+36) % 256) + ((plen+36) // 256 % 256) + ((plen+36) // 65536 % 256) AS rlensum,
        |  (plen % 256) + (plen // 256 % 256) + (plen // 65536 % 256) AS dlensum,
        |  (rate % 256) + (rate // 256 % 256) AS ratesum,
        |  ((rate*ch*2) % 256) + ((rate*ch*2) // 256 % 256) AS bratesum
        |  FROM b)
        |SELECT doc_id, blen AS byte_len,
        |  (CASE fmt
        |     WHEN 'png' THEN 747 + wsum + hsum
        |     WHEN 'jpg' THEN 1583 + wsum + hsum
        |     ELSE 1404 + rlensum + ch + ratesum + bratesum + ch*2 + dlensum
        |   END + psum) / blen AS mean_byte,
        |  fmt AS detected_fmt,
        |  CASE WHEN fmt = 'wav' THEN NULL ELSE w END AS width,
        |  CASE WHEN fmt = 'wav' THEN NULL ELSE h END AS height,
        |  CASE WHEN fmt = 'wav' THEN rate ELSE NULL END AS sample_rate,
        |  CASE WHEN fmt = 'wav'
        |    THEN CAST((plen * 8000) // (ch * 16 * rate) AS BIGINT)
        |    ELSE NULL END AS duration_ms,
        |  CASE WHEN fmt = 'wav' THEN CAST(plen // 2 AS BIGINT)
        |    ELSE NULL END AS pcm_samples,
        |  CASE WHEN fmt = 'wav' THEN CAST(coalesce(list_sum(
        |      list_transform(range(1, plen // 2 + 1), i ->
        |        CAST('0x' || substr(hx, 4*i-3, 2) AS INT)
        |        + 256 * CAST('0x' || substr(hx, 4*i-1, 2) AS INT)
        |        - 65536 * CAST(
        |            CAST('0x' || substr(hx, 4*i-1, 2) AS INT)
        |              >= 128 AS INT))), 0) AS BIGINT)
        |    ELSE NULL END AS pcm_sum,
        |  CASE WHEN fmt = 'wav' THEN CAST(coalesce(list_max(
        |      list_transform(range(1, plen // 2 + 1), i ->
        |        abs(CAST('0x' || substr(hx, 4*i-3, 2) AS INT)
        |        + 256 * CAST('0x' || substr(hx, 4*i-1, 2) AS INT)
        |        - 65536 * CAST(
        |            CAST('0x' || substr(hx, 4*i-1, 2) AS INT)
        |              >= 128 AS INT)))), 0) AS INT)
        |    ELSE NULL END AS pcm_peak,
        |  CAST(4 AS INT) AS n_frames
        |FROM s ORDER BY doc_id""".stripMargin,

    // byte-exact patch replay: same slicing, same hex-pair byte
    // extraction, same rolling hash fold
    "m2_patches" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS len
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |p AS (SELECT doc_id, CAST(u.i AS INT) AS patch_idx,
        |    substr(hx, CAST(u.i AS INT) * 128 + 1, 128) AS phx
        |  FROM m, unnest(generate_series(0,
        |    CAST((len + 63) // 64 AS BIGINT) - 1)) AS u(i)),
        |b AS (SELECT doc_id, patch_idx,
        |    CAST(length(phx) // 2 AS INT) AS patch_len,
        |    list_transform(range(1, length(phx) // 2 + 1),
        |      i -> CAST(('0x' || substr(phx, 2*i - 1, 2)) AS BIGINT)) AS bs
        |  FROM p)
        |SELECT doc_id, patch_idx, patch_len,
        |  CAST(list_sum(bs) AS BIGINT) AS patch_sum,
        |  CAST(list_max(bs) AS BIGINT) AS patch_max,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), bs),
        |    (acc, x) -> (acc * 257 + x) % 1000000007) AS BIGINT) AS patch_hash
        |FROM b ORDER BY doc_id, patch_idx""".stripMargin,
    // m3: the WAV data section IS the utf-8 payload, so the oracle
    // frames encode(text) directly — same pairs, same sign fold —
    // while the engine side proves the container slicing
    "m3_audio_frames" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) // 2 AS ns
        |  FROM documents
        |  WHERE source >= 'src8' AND octet_length(encode(text)) >= 2),
        |f AS (SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
        |    substr(hx, CAST(u.i AS INT) * 1024 + 1, 1024) AS fhx
        |  FROM m, unnest(generate_series(0, (ns + 255) // 256 - 1)) AS u(i)),
        |r AS (SELECT doc_id, frame_idx,
        |    list_transform(range(1, length(fhx) // 4 + 1), i ->
        |      CAST(('0x' || substr(fhx, 4*i - 3, 2)) AS BIGINT) +
        |      256 * CAST(('0x' || substr(fhx, 4*i - 1, 2)) AS BIGINT)) AS u16
        |  FROM f),
        |s AS (SELECT doc_id, frame_idx,
        |    list_transform(u16, v ->
        |      CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS sm
        |  FROM r)
        |SELECT doc_id, frame_idx, CAST(len(sm) AS INT) AS n_samples,
        |  CAST(list_sum(list_transform(sm, x -> abs(x))) AS BIGINT) AS sum_abs,
        |  CAST(list_max(list_transform(sm, x -> abs(x))) AS BIGINT) AS peak,
        |  CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT) AS energy
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,
    // m7: the m3 sample chain at 16-sample frames + the same integer
    // energy gate + the identical islands rank replay
    "m7_vad_segments" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) // 2 AS ns
        |  FROM documents
        |  WHERE source >= 'src8' AND octet_length(encode(text)) >= 2),
        |f AS (SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
        |    substr(hx, CAST(u.i AS INT) * 64 + 1, 64) AS fhx
        |  FROM m, unnest(generate_series(0, (ns + 15) // 16 - 1)) AS u(i)),
        |r AS (SELECT doc_id, frame_idx,
        |    list_transform(range(1, length(fhx) // 4 + 1), i ->
        |      CAST(('0x' || substr(fhx, 4*i - 3, 2)) AS BIGINT) +
        |      256 * CAST(('0x' || substr(fhx, 4*i - 1, 2)) AS BIGINT)) AS u16
        |  FROM f),
        |e AS (SELECT doc_id, frame_idx, len(sm) AS n,
        |    CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT) AS energy
        |  FROM (SELECT doc_id, frame_idx, list_transform(u16, v ->
        |      CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS sm FROM r)),
        |a AS (SELECT doc_id, frame_idx, energy,
        |    frame_idx - row_number() OVER (PARTITION BY doc_id
        |      ORDER BY frame_idx) AS isl
        |  FROM e WHERE energy >= 660000000 * n),
        |g AS (SELECT doc_id, isl, min(frame_idx) AS start_frame,
        |    max(frame_idx) AS end_frame,
        |    CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(sum(energy) AS BIGINT) AS total_energy
        |  FROM a GROUP BY doc_id, isl)
        |SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY start_frame) - 1 AS BIGINT) AS seg_id,
        |  start_frame, end_frame, n_frames, total_energy
        |FROM g ORDER BY doc_id, seg_id""".stripMargin,
    // m4: the movi frames ARE even-length payload slices, so the
    // oracle slices hex(encode(text)) directly with the same
    // nf/flen arithmetic — the engine's container parse must land on
    // exactly those bytes
    "m4_frame_sample" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS plen,
        |    CAST(n_chars % 7 + 3 AS INT) AS nf FROM documents
        |  WHERE octet_length(encode(text)) >= 18),
        |d AS (SELECT doc_id, nf, hx,
        |    CAST((plen // nf) // 2 * 2 AS INT) AS flen FROM m),
        |f AS (SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
        |    substr(hx, CAST(u.i AS INT) * flen * 2 + 1, flen * 2) AS fhx
        |  FROM d, unnest(generate_series(0, CAST(nf AS BIGINT) - 1)) AS u(i)
        |  WHERE u.i % 2 = 0),
        |b AS (SELECT doc_id, frame_idx,
        |    CAST(length(fhx) // 2 AS INT) AS frame_len,
        |    list_transform(range(1, length(fhx) // 2 + 1),
        |      i -> CAST(('0x' || substr(fhx, 2*i - 1, 2)) AS BIGINT)) AS bs
        |  FROM f)
        |SELECT doc_id, frame_idx, frame_len,
        |  CAST(list_sum(bs) AS BIGINT) AS frame_sum,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), bs),
        |    (acc, x) -> (acc * 257 + x) % 1000000007) AS BIGINT)
        |    AS frame_hash
        |FROM b ORDER BY doc_id, frame_idx""".stripMargin,
    // m5: same w/h derivation (floor-sqrt capped), same row-major
    // nearest-neighbor index arithmetic over the payload prefix
    "m5_resize" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS plen FROM documents
        |  WHERE octet_length(encode(text)) >= 4),
        |d AS (SELECT doc_id, hx, plen, least(CAST(floor(sqrt(
        |    CAST(plen AS DOUBLE))) AS INT), 48) AS w FROM m),
        |e AS (SELECT doc_id, hx, w,
        |    least(CAST(plen // w AS INT), 48) AS h FROM d),
        |g AS (SELECT doc_id, hx, CAST(w AS INT) AS in_w,
        |    CAST(h AS INT) AS in_h, CAST(w // 2 AS INT) AS out_w,
        |    CAST(h // 2 AS INT) AS out_h, w FROM e
        |  WHERE w // 2 > 0 AND h // 2 > 0),
        |p AS (SELECT doc_id, in_w, in_h, out_w, out_h,
        |    list_transform(range(0, CAST(out_w AS BIGINT) * out_h), i ->
        |      CAST(('0x' || substr(hx,
        |        CAST(((i // out_w) * 2 * w + (i % out_w) * 2) * 2 + 1
        |          AS INT), 2)) AS BIGINT)) AS px
        |  FROM g)
        |SELECT doc_id, in_w, in_h, out_w, out_h,
        |  CAST(len(px) AS INT) AS out_len,
        |  CAST(list_sum(px) AS BIGINT) AS out_sum,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), px),
        |    (acc, x) -> (acc * 257 + x) % 1000000007) AS BIGINT)
        |    AS out_hash
        |FROM p ORDER BY doc_id""".stripMargin,
    // m6: the full dHash replay — same w/h derivation as m5, the 9×8
    // nearest-neighbor sample grid, MSB-first bit packing into two
    // non-negative 32-bit halves, 4×16-bit banding self-join, exact
    // popcount filter; `//`, `%`, bit_count all run on non-negative
    // operands so DuckDB and Spark agree exactly
    "m6_dhash_neardup" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS plen FROM documents
        |  WHERE octet_length(encode(text)) >= 4),
        |d AS (SELECT doc_id, hx, least(CAST(floor(sqrt(
        |    CAST(plen AS DOUBLE))) AS INT), 48) AS w, plen FROM m),
        |e AS (SELECT doc_id, hx, w,
        |    least(CAST(plen // w AS INT), 48) AS h FROM d
        |  WHERE w >= 9 AND plen // w >= 8),
        |p AS (SELECT doc_id, list_transform(range(0, 72), k ->
        |    CAST(('0x' || substr(hx,
        |      CAST((((k // 9) * h // 8) * w + (k % 9) * w // 9) * 2 + 1
        |        AS INT), 2)) AS BIGINT)) AS px
        |  FROM e WHERE h >= 8),
        |q AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, 32), j -> CAST(CASE WHEN
        |        px[CAST((63-j) // 8 * 9 + (63-j) % 8 + 1 AS INT)] <
        |        px[CAST((63-j) // 8 * 9 + (63-j) % 8 + 2 AS INT)]
        |        THEN 1 ELSE 0 END AS BIGINT))),
        |      (acc, b) -> acc * 2 + b) AS hi,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0, 32), j -> CAST(CASE WHEN
        |        px[CAST((31-j) // 8 * 9 + (31-j) % 8 + 1 AS INT)] <
        |        px[CAST((31-j) // 8 * 9 + (31-j) % 8 + 2 AS INT)]
        |        THEN 1 ELSE 0 END AS BIGINT))),
        |      (acc, b) -> acc * 2 + b) AS lo
        |  FROM p),
        |bands AS (SELECT doc_id, hi, lo, u.i AS band_idx,
        |    CASE u.i WHEN 0 THEN hi // 65536 WHEN 1 THEN hi % 65536
        |      WHEN 2 THEN lo // 65536 ELSE lo % 65536 END AS band_val
        |  FROM q, unnest(generate_series(0, 3)) AS u(i)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
        |  FROM bands a JOIN bands b USING (band_idx, band_val)
        |  WHERE a.doc_id < b.doc_id)
        |SELECT a_id, b_id,
        |  CAST(bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo))
        |    AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    // f6/f7: the DML oracles ignore the file layout entirely — a
    // pruned-rewrite delete/update must equal the full-scan form
    "f6_delete_cow" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events WHERE user_id NOT BETWEEN 10 AND 30
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f13: equality-deleting every key present in [10, 30] is the same
    // relation as f6's range delete — the read path (anti-join vs
    // rewrite) is the axis under test, never the answer
    // f14: the same relation read through DuckDB directly — the SQL
    // front door changes the read PATH (catalog-listed, pruned),
    // never the answer
    "f14_sql_front_door" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |WHERE user_id BETWEEN 100 AND 160 AND event_type <> 'view'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f15: the written-then-read relation is the events table split
    // across a create + an append commit — the union must equal the
    // source, so the oracle reads it directly
    "f15_sql_write" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |WHERE user_id BETWEEN 2 AND 120
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f19: create + SQL INSERT INTO union back to the events relation
    "f19_sql_insert" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |WHERE user_id BETWEEN 2 AND 120
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f22: SQL DELETE == the source minus the matching rows; NULL
    // conditions keep their row (COALESCE mirrors the engine's
    // NOT coalesce(cond, false) keep filter)
    "f22_sql_delete" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |WHERE NOT COALESCE(event_type = 'click'
        |  AND user_id BETWEEN 3 AND 9 AND value > 5, FALSE)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f23: SQL UPDATE == CASE over the source (NULL conditions keep
    // the old value, exactly the when/otherwise rewrite)
    "f23_sql_update" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(CASE WHEN event_type IN ('view', 'error')
        |    AND user_id BETWEEN 2 AND 8 THEN value * 2 + 1
        |    ELSE value END AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f25: OPTIMIZE is pure layout — the oracle is the plain
    // aggregate; any lost/duplicated row breaks the hash
    "f25_sql_optimize" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // f26: VACUUM reclaims storage, never rows — the table still
    // equals the post-DELETE state after history expiry + the sweep
    "f26_sql_vacuum" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |WHERE NOT COALESCE(user_id BETWEEN 3 AND 9 AND value > 5, FALSE)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f27: the v0 snapshot is the WHOLE relation, the head is the
    // post-DELETE filter — one statement, two versions of one table
    "f27_sql_time_travel" ->
      """SELECT snap, event_type, n_events, total_value, sum_ids FROM (
        |  SELECT 'v0' AS snap, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_value,
        |    CAST(sum(event_id) AS BIGINT) AS sum_ids
        |  FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'head', event_type, CAST(count(*) AS BIGINT),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(event_id) AS BIGINT)
        |  FROM events
        |  WHERE NOT COALESCE(event_type = 'purchase'
        |    AND user_id BETWEEN 10 AND 40, FALSE)
        |  GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin,
    // f28: CTAS == the defining query; the read-back filter proves
    // the created table serves exactly the query result
    "f28_sql_ctas" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |WHERE user_id % 3 <> 1 AND user_id BETWEEN 2 AND 150
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f29: with files '1' the CoW delete is partition-granular —
    // a touched partition (any matching row) retires its whole single
    // file (rows_removed = its full count) and rewrites its survivors
    // (rows_added); the append adds its slice; every count re-derives
    // from the predicates alone
    "f29_sql_history" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type, value FROM events),
        |tp AS (SELECT DISTINCT event_type FROM base WHERE user_id % 7 = 3),
        |pc AS (SELECT event_type, count(*) AS n FROM base GROUP BY 1),
        |surv AS (SELECT event_type, count(*) AS n FROM base
        |  WHERE user_id % 7 <> 3 GROUP BY 1),
        |n0 AS (SELECT count(*) AS n FROM base),
        |ndel AS (SELECT count(*) AS n FROM base WHERE user_id % 7 = 3),
        |app AS (SELECT count(*) AS n FROM base WHERE user_id < 4)
        |SELECT CAST(0 AS BIGINT) AS version, 'create' AS operation,
        |  CAST((SELECT n FROM n0) AS BIGINT) AS n_rows,
        |  CAST((SELECT n FROM n0) AS BIGINT) AS rows_added,
        |  CAST(0 AS BIGINT) AS rows_removed, TRUE AS appended
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), 'delete',
        |  CAST((SELECT n FROM n0) - (SELECT n FROM ndel) AS BIGINT),
        |  CAST((SELECT COALESCE(sum(surv.n), 0) FROM surv
        |    JOIN tp USING (event_type)) AS BIGINT),
        |  CAST((SELECT COALESCE(sum(pc.n), 0) FROM pc
        |    JOIN tp USING (event_type)) AS BIGINT),
        |  FALSE
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'append',
        |  CAST((SELECT n FROM n0) - (SELECT n FROM ndel)
        |    + (SELECT n FROM app) AS BIGINT),
        |  CAST((SELECT n FROM app) AS BIGINT), CAST(0 AS BIGINT), TRUE
        |ORDER BY version""".stripMargin,
    // f30: the clone is the v0 slice minus its own DELETE; the source
    // still serves its full two-version head — independence both ways
    "f30_sql_clone" ->
      """SELECT snap, event_type, n_events, total_value, sum_ids FROM (
        |  SELECT 'clone' AS snap, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_value,
        |    CAST(sum(event_id) AS BIGINT) AS sum_ids
        |  FROM events
        |  WHERE user_id < 8 AND event_type <> 'error'
        |  GROUP BY event_type
        |  UNION ALL
        |  SELECT 'src', event_type, CAST(count(*) AS BIGINT),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(event_id) AS BIGINT)
        |  FROM events GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin,
    // f32: bonus exists for inserted rows (user_id >= 8) and for the
    // backfilled pre-evolution cohort (user_id < 4); every other
    // pre-evolution row reads NULL — the reader's null-fill
    "f32_sql_add_column" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(CASE WHEN user_id >= 8 OR user_id < 4
        |    THEN user_id * 10 END) AS BIGINT) AS n_bonus,
        |  CAST(sum(CASE WHEN user_id >= 8 OR user_id < 4
        |    THEN user_id * 10 END) AS BIGINT) AS sum_bonus,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f33: the head epoch is the post-DELETE relation WITHOUT the
    // dropped column (its aggregate column NULL by construction); the
    // pre-drop epoch still reads it — lazy drop is catalog-only, so
    // both derive from the one source relation
    "f33_sql_drop_column" ->
      """SELECT snap, event_type, n_events, sum_ids, total_value
        |FROM (
        |  SELECT 'head' AS snap, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |    CAST(NULL AS DOUBLE) AS total_value
        |  FROM events WHERE user_id <> 3 GROUP BY event_type
        |  UNION ALL
        |  SELECT 'pre', event_type, CAST(count(*) AS BIGINT),
        |    CAST(sum(event_id) AS BIGINT),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM events GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin,
    // f35: widening is value-preserving by construction, so the
    // oracle derives the whole history from the source relation —
    // TRUNC mirrors Spark's toward-zero double→int cast (DuckDB's
    // bare CAST rounds); sums cast back to BIGINT (DuckDB widens to
    // HUGEINT)
    "f35_sql_widen_column" ->
      """WITH src AS (SELECT event_id, user_id, event_type,
        |  CAST(CAST(TRUNC(value) AS INTEGER) AS BIGINT) AS score
        |  FROM events),
        |merged AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN user_id = 2 THEN score + 1 ELSE score END AS score
        |  FROM src WHERE user_id < 8
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, score + 3000000000
        |  FROM src WHERE user_id >= 8)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(score) AS BIGINT) AS sum_score,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(max(score) AS BIGINT) AS max_score,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // f36: counts derive from the source relation (the manifest's
    // per-file rows are exact, maintained across the CoW delete)
    "f36_metadata_count" ->
      """SELECT snap, n_rows FROM (
        |  SELECT 'head' AS snap, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events WHERE user_id % 4 <> 1
        |  UNION ALL
        |  SELECT 'v0', CAST(count(*) AS BIGINT) FROM events)
        |ORDER BY snap""".stripMargin,
    // f34: evolution + MERGE == left join carrying the new column for
    // matched rows (NULL for unmatched — the null-fill the ADD COLUMN
    // commit guarantees) + anti-join inserts carrying it for real
    "f34_merge_evolution" ->
      """WITH chg AS (
        |  SELECT event_id, user_id, event_type, value * 2 AS value,
        |         user_id * 100 + 7 AS bonus
        |  FROM events WHERE user_id BETWEEN 4 AND 9
        |  UNION ALL
        |  SELECT event_id + 200000000, user_id, event_type,
        |         value + 1.5, user_id * 100 + 9
        |  FROM events WHERE user_id BETWEEN 1 AND 3
        |), merged AS (
        |  SELECT e.event_id, e.event_type,
        |         CASE WHEN c.event_id IS NOT NULL THEN c.value
        |              ELSE e.value END AS value,
        |         CASE WHEN c.event_id IS NOT NULL THEN c.bonus
        |              ELSE NULL END AS bonus
        |  FROM events e LEFT JOIN chg c ON e.event_id = c.event_id
        |    AND e.event_type = c.event_type
        |  UNION ALL
        |  SELECT c.event_id, c.event_type, c.value, c.bonus
        |  FROM chg c LEFT JOIN events e ON c.event_id = e.event_id
        |    AND c.event_type = e.event_type
        |  WHERE e.event_id IS NULL
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(bonus) AS BIGINT) AS n_bonus,
        |  CAST(sum(bonus) AS BIGINT) AS sum_bonus,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // f37: the rename is value-preserving by construction (ids resolve
    // the same bytes), so the whole history derives from the source
    // relation — head applies the post-rename update and the insert
    // half, pre is the create subset under the OLD name
    "f37_sql_rename_column" ->
      """WITH head AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN user_id = 2 THEN value + 1 ELSE value END AS amount
        |  FROM events WHERE user_id < 8
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value AS amount
        |  FROM events WHERE user_id >= 8)
        |SELECT snap, event_type, n_events, total_amount, sum_ids FROM (
        |  SELECT 'head' AS snap, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_amount,
        |    CAST(sum(event_id) AS BIGINT) AS sum_ids
        |  FROM head GROUP BY event_type
        |  UNION ALL
        |  SELECT 'pre', event_type, CAST(count(*) AS BIGINT),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(event_id) AS BIGINT)
        |  FROM events WHERE user_id < 8 GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin,
    // f38: the manifest folds are exact (footer row counts, non-null-
    // backed ranges, directory-encoded partition values), so both
    // snaps derive from the post-delete relation
    "f38_metadata_stats" ->
      """SELECT snap, n_rows, min_k, max_k FROM (
        |  SELECT 'head' AS snap, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(min(user_id) AS BIGINT) AS min_k,
        |    CAST(max(user_id) AS BIGINT) AS max_k
        |  FROM events WHERE user_id % 4 <> 1
        |  UNION ALL
        |  SELECT 'click', CAST(count(*) AS BIGINT),
        |    CAST(min(user_id) AS BIGINT), CAST(max(user_id) AS BIGINT)
        |  FROM events WHERE user_id % 4 <> 1 AND event_type = 'click')
        |ORDER BY snap""".stripMargin,
    // f39: ZORDER is pure layout — both snaps are the source relation
    "f39_sql_optimize_zorder" ->
      """SELECT snap, event_type, n_events, total_value, sum_ids FROM (
        |  SELECT 'head' AS snap, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_value,
        |    CAST(sum(event_id) AS BIGINT) AS sum_ids
        |  FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'pre', event_type, CAST(count(*) AS BIGINT),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(event_id) AS BIGINT)
        |  FROM events GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin,
    // f41: the manifest's per-directory folds are exact, so both
    // snaps derive from the post-delete relation grouped the same way
    "f41_metadata_partitions" ->
      """SELECT snap, event_type, n_rows, min_k, max_k FROM (
        |  SELECT 'head' AS snap, event_type,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(min(user_id) AS BIGINT) AS min_k,
        |    CAST(max(user_id) AS BIGINT) AS max_k
        |  FROM events WHERE user_id % 4 <> 1 GROUP BY event_type
        |  UNION ALL
        |  SELECT 'flt', event_type, CAST(count(*) AS BIGINT),
        |    CAST(min(user_id) AS BIGINT), CAST(max(user_id) AS BIGINT)
        |  FROM events WHERE user_id % 4 <> 1
        |    AND event_type IN ('click', 'view')
        |  GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin,
    // f45: refused batches land nothing, so the final state is the
    // base relation plus exactly the one VALID inserted row
    "f45_constraints" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM (
        |  SELECT event_type, user_id, value FROM events
        |  UNION ALL
        |  SELECT 'click', 7, 5.0)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // f44: statistics change PLANS, never answers — the output is the
    // plain relation aggregated (the entry's require()s pin the plan
    // effects: exact row count under CBO + the broadcast flip)
    "f44_analyze_stats" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // f43: the evolved nested shape derives relationally — base rows
    // (minus the CoW delete) with a NULL added subfield, plus the one
    // inserted row that carries it; the rename is pure metadata
    "f43_nested_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(uid) AS BIGINT) AS sum_uid,
        |  CAST(count(c) AS BIGINT) AS n_c
        |FROM (
        |  SELECT event_type, user_id AS uid, CAST(NULL AS BIGINT) AS c
        |  FROM events WHERE event_id % 7 <> 3
        |  UNION ALL
        |  SELECT 'click', 999, 42)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // f42: the escaped layout is pure organization — the final state
    // is the relation minus the deleted day, with the updated day's
    // even-user values zeroed; the day string derives in SQL exactly
    // as the write derived it (ts -> date -> timestamp -> string)
    "f42_escaped_partitions" ->
      """SELECT day, n_rows, total_value, sum_ids FROM (
        |  SELECT CAST(CAST(CAST(ts AS DATE) AS TIMESTAMP) AS VARCHAR)
        |      AS day,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(CASE
        |      WHEN CAST(CAST(CAST(ts AS DATE) AS TIMESTAMP) AS VARCHAR)
        |          = '2024-01-03 00:00:00' AND user_id % 2 = 0
        |      THEN 0.0 ELSE value END AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_value,
        |    CAST(sum(event_id) AS BIGINT) AS sum_ids
        |  FROM events
        |  WHERE CAST(CAST(CAST(ts AS DATE) AS TIMESTAMP) AS VARCHAR)
        |    <> '2024-01-05 00:00:00'
        |  GROUP BY 1)
        |ORDER BY day""".stripMargin,
    // f40: the two-level layout is pure organization — head excludes
    // the deleted user, pre is the whole relation; bucket derives in
    // SQL exactly as the write derived it
    "f40_multi_partition" ->
      """SELECT snap, event_type, bucket, n_events, sum_ids FROM (
        |  SELECT 'head' AS snap, event_type,
        |    CAST(user_id % 3 AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(event_id) AS BIGINT) AS sum_ids
        |  FROM events WHERE user_id <> 4 GROUP BY event_type, user_id % 3
        |  UNION ALL
        |  SELECT 'pre', event_type, CAST(user_id % 3 AS BIGINT),
        |    CAST(count(*) AS BIGINT), CAST(sum(event_id) AS BIGINT)
        |  FROM events GROUP BY event_type, user_id % 3)
        |ORDER BY snap, event_type, bucket""".stripMargin,
    // f31: the restored head is the WHOLE relation again; the mistake
    // version (the delete) stays readable between them — rollback as
    // a new commit, history intact
    "f31_sql_restore" ->
      """SELECT snap, event_type, n_events, total_value, sum_ids FROM (
        |  SELECT 'head' AS snap, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_value,
        |    CAST(sum(event_id) AS BIGINT) AS sum_ids
        |  FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'mistake', event_type, CAST(count(*) AS BIGINT),
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(event_id) AS BIGINT)
        |  FROM events WHERE user_id % 5 <> 2 GROUP BY event_type)
        |ORDER BY snap, event_type""".stripMargin,
    // f24: MERGE == left join (matched update/delete) + anti join
    // (inserts) over the same deterministic changeset; the n_events
    // CAST matches Spark's count, value sums ride DECIMAL(18,2)
    "f24_sql_merge" ->
      """WITH chg AS (
        |  SELECT event_id AS k, user_id AS u, event_type AS et,
        |         value * 3 + 1 AS nv, (event_id % 5 = 0) AS del
        |  FROM events WHERE user_id BETWEEN 3 AND 9
        |  UNION ALL
        |  SELECT event_id + 100000000 AS k, user_id AS u,
        |         event_type AS et, value + 0.5 AS nv, FALSE AS del
        |  FROM events WHERE user_id BETWEEN 1 AND 2
        |), merged AS (
        |  SELECT e.event_id, e.event_type,
        |         CASE WHEN c.k IS NOT NULL THEN c.nv
        |              ELSE e.value END AS value
        |  FROM events e LEFT JOIN chg c ON e.event_id = c.k
        |  WHERE c.k IS NULL OR NOT c.del
        |  UNION ALL
        |  SELECT c.k AS event_id, c.et AS event_type, c.nv AS value
        |  FROM chg c LEFT JOIN events e ON c.k = e.event_id
        |  WHERE e.event_id IS NULL
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // f17: two spec epochs union back to the one relation — the
    // evolution changes pruning opportunities, never the answer
    "f17_partition_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |WHERE event_type IN ('purchase', 'view')
        |  AND user_id BETWEEN 2 AND 120
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f18: file pruning is a superset + residual-join discipline, so
    // the oracle is the PLAIN join — pruning must lose nothing
    // f21: string-bound survival is a superset (truncation only
    // widens) and the BETWEEN residual restores exactness
    "f21_string_prune" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_bal,
        |  min(c_name) AS first_name
        |FROM customer
        |WHERE c_name BETWEEN 'Customer#000000100' AND 'Customer#000000299'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f20: bloom survival is a file-granular superset and the
    // residual filter restores exactness — the oracle is the plain
    // predicate over the source table
    "f20_bloom_skip" ->
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem WHERE l_partkey IN (5, 55, 155)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "f18_join_file_prune" ->
      """WITH dim AS (SELECT DISTINCT o_custkey % 15 AS user_id
        |  FROM orders WHERE o_totalprice > 499000)
        |SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM events e JOIN dim USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f16: the tag-pinned release read IS the original full relation
    // — refs/expiry change what survives, never the answer
    "f16_refs" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // c6: the governed read path changes WHERE the dimension comes
    // from, never the join's answer
    "c6_governed_enrich" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // c9: main = base + the two audited batches, the rejected slice
    // (purchases with user_id 5-9) absent, the replayed batch 0
    // counted ONCE — any double-apply or leaked rejected row breaks
    // the aggregate
    // c11: silver = every event that survives the quality transform,
    // whatever version carried it through the hop
    "c11_medallion" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events WHERE event_type <> 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // c10: the three appended versions partition events exactly — the
    // drained stream must re-aggregate to the whole relation
    "c10_stream_read" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // c12: the feed is exactly base-as-I (v0), the update's old/new
    // images as D/I (v1 — carried rows cancel in the file diff), and
    // the appended rows as I (v2); same arithmetic, same NULL-keeps
    // semantics as the engine's when/otherwise rewrite
    "c12_change_feed" ->
      """WITH base AS (SELECT event_id, user_id, event_type, value
        |  FROM events),
        |upd AS (SELECT * FROM base
        |  WHERE COALESCE(event_type = 'purchase'
        |    AND user_id BETWEEN 2 AND 6, FALSE)),
        |mx AS (SELECT max(event_id) AS m FROM base)
        |SELECT event_id, user_id, event_type, value,
        |  CAST(0 AS BIGINT) AS _graft_version, 'I' AS _change_type
        |FROM base
        |UNION ALL
        |SELECT event_id, user_id, event_type, value,
        |  CAST(1 AS BIGINT), 'D' FROM upd
        |UNION ALL
        |SELECT event_id, user_id, event_type, value + 1000,
        |  CAST(1 AS BIGINT), 'I' FROM upd
        |UNION ALL
        |SELECT event_id + m + 1, user_id, event_type, value,
        |  CAST(2 AS BIGINT), 'I' FROM base, mx WHERE user_id < 3
        |ORDER BY _graft_version, _change_type, event_id""".stripMargin,
    // c14: the [1, 2] sub-range only — the update's old/new images as
    // D/I (carried rows cancel) and the appended rows as I; the base
    // version is absent by construction
    "c14_table_changes" ->
      """WITH base AS (SELECT event_id, user_id, event_type, value
        |  FROM events),
        |upd AS (SELECT * FROM base
        |  WHERE COALESCE(event_type = 'click'
        |    AND user_id BETWEEN 3 AND 8, FALSE)),
        |mx AS (SELECT max(event_id) AS m FROM base)
        |SELECT event_id, user_id, event_type, value,
        |  CAST(1 AS BIGINT) AS _graft_version, 'D' AS _change_type
        |FROM upd
        |UNION ALL
        |SELECT event_id, user_id, event_type, value + 500,
        |  CAST(1 AS BIGINT), 'I' FROM upd
        |UNION ALL
        |SELECT event_id + m + 1, user_id, event_type, value,
        |  CAST(2 AS BIGINT), 'I' FROM base, mx WHERE user_id < 5
        |ORDER BY _graft_version, _change_type, event_id""".stripMargin,
    // c15: the three source versions partition events exactly; the
    // mid-stream filter drops event_id % 3 == 1 — what lands in the
    // sink table is the filtered relation, whatever the batching
    "c15_stream_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events WHERE event_id % 3 <> 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "c9_wap_stream" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |WHERE event_type <> 'purchase'
        |   OR user_id < 5 OR user_id >= 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // c5: main = base + exactly the one audited batch = the events
    // relation; the rejected version's rows must NOT be present
    "c5_wap" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE user_id BETWEEN 3 AND 130 AND event_type <> 'click'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "f13_delete_mor" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events WHERE user_id NOT BETWEEN 10 AND 30
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "f7_update_cow" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(CASE WHEN user_id BETWEEN 10 AND 30
        |    THEN value * 2 ELSE value END AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // f8: MERGE INTO mirrored as a FULL OUTER JOIN against the same
    // deterministic changeset — updates %10=1 (price doubled), deletes
    // %10=2, inserts %10=3 (key shifted past max). The pruned-rewrite
    // merge must equal the full-scan form exactly.
    // the evolved read must equal the logical union: odd rows carry
    // their renamed value + computed priority, even rows default
    "f10_schema_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(sum(CASE WHEN event_id % 2 = 1 THEN event_id % 5
        |    ELSE -1 END) AS BIGINT) AS sum_priority
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the changelog contract: every updated row appears exactly twice,
    // old image as D, new image as I; untouched rows appear not at all
    "f9_snapshot_diff" ->
      """WITH ch AS (SELECT event_id, user_id, value FROM events
        |  WHERE user_id BETWEEN 40 AND 60)
        |SELECT 'D' AS change_type, event_id, user_id, value FROM ch
        |UNION ALL
        |SELECT 'I' AS change_type, event_id, user_id,
        |  value + 1000000.0 AS value FROM ch
        |ORDER BY change_type, event_id""".stripMargin,
    "f8_merge_cow" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |c AS (
        |  SELECT o_orderkey AS k, o_custkey, o_totalprice * 2 AS price,
        |    false AS del FROM t WHERE o_orderkey % 10 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, true
        |  FROM t WHERE o_orderkey % 10 = 2
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT m FROM mx), o_custkey,
        |    o_totalprice + 1000, false FROM t WHERE o_orderkey % 10 = 3),
        |merged AS (
        |  SELECT coalesce(c.k, t.o_orderkey) AS k,
        |    CASE WHEN c.k IS NOT NULL THEN c.o_custkey
        |         ELSE t.o_custkey END AS cust,
        |    CASE WHEN c.k IS NOT NULL THEN c.price
        |         ELSE t.o_totalprice END AS price
        |  FROM t FULL OUTER JOIN c ON t.o_orderkey = c.k
        |  WHERE c.k IS NULL OR NOT c.del)
        |SELECT CAST(k % 4 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(sum(k) AS BIGINT) AS sum_keys,
        |  CAST(count(DISTINCT cust) AS BIGINT) AS n_cust
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // f1's oracle ignores the file layout entirely: a manifest-pruned
    // ranged read must equal the plain full-scan filter, row for row
    "f1_manifest_prune" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE user_id BETWEEN 4 AND 6
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // f5: the metadata-answered aggregate must equal the full-scan
    // aggregate of the same range predicate
    "f5_manifest_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(user_id) AS BIGINT) AS min_v,
        |  CAST(max(user_id) AS BIGINT) AS max_v
        |FROM events WHERE user_id BETWEEN 12 AND 87""".stripMargin,
    // f4 likewise: a two-level (partition + range) pruned read must
    // equal the plain full-scan filter over both predicates
    // f12: after the A→B migration + expiry + GC, the survivor
    // catalog is a complete copy of the table — plain full scan
    "f12_orphan_gc" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // f11: after rollback the latest catalog IS v0 — the oracle is
    // the plain full scan, nothing about the DML detour survives
    "f11_rollback" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "f4_partition_prune" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE event_type IN ('click', 'view')
        |  AND user_id BETWEEN 4 AND 6
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "p5_expectations_windowed" ->
      """WITH w AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
        |    props, value, event_type FROM events),
        |a AS (SELECT ws, count(*) AS n,
        |    sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS v0,
        |    sum(CASE WHEN value < 0 OR value > 400 THEN 1 ELSE 0 END) AS v1,
        |    sum(CASE WHEN event_type NOT IN
        |      ('click','error','purchase','signup','view')
        |      THEN 1 ELSE 0 END) AS v2
        |  FROM w GROUP BY 1)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, rule,
        |  "column", CAST(v AS BIGINT) AS n_violations,
        |  CAST(n AS BIGINT) AS n_rows, v = 0 AS passed
        |FROM (
        |  SELECT ws, n, 'not_null' AS rule, 'props' AS "column", v0 AS v
        |    FROM a
        |  UNION ALL SELECT ws, n, 'in_range', 'value', v1 FROM a
        |  UNION ALL SELECT ws, n, 'in_set', 'event_type', v2 FROM a)
        |ORDER BY window_start, rule, "column"""".stripMargin,
    // windowed PSI replay: same union bucket domain, same grid joins,
    // same per-term fixed-point quantization summed as integers
    // p8's oracle replays the exact integer median/MAD estimator:
    // lower median = element at rn == (n+1)//2 of the per-group sort
    // p11: same two-level aggregation, same integer ppm, same
    // (count DESC, key ASC) argmax
    "p11_skew_audit" ->
      operators.Profile.skewAuditOracleSql("events",
        Seq("event_type", "user_id"), riskPpm = 100000L),
    // p10: same bucketed grouping; floor's operand is offset
    // non-negative so DuckDB floor == Spark floor on every row
    "p10_kanon" ->
      operators.Profile.kAnonymityOracleSql(
        "SELECT c_mktsegment, CAST(floor((c_acctbal + 1000.0) / 2000.0) " +
          "AS BIGINT) AS bal_band FROM customer",
        Seq("c_mktsegment", "bal_band"), k = 5),
    "p9_fd_profile" ->
      operators.Profile.fdOracleSql("events", Seq(
        ("event_id", "event_type"),
        ("user_id", "event_type"),
        ("event_type", "user_id"))),
    "p8_outliers" ->
      """WITH b AS (SELECT event_type AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT g, cents AS med_cents FROM (
        |    SELECT g, cents, row_number() OVER (PARTITION BY g ORDER BY cents) AS rn,
        |      count(*) OVER (PARTITION BY g) AS nn FROM b)
        |  WHERE rn = (nn + 1) // 2),
        |d AS (SELECT b.g, abs(b.cents - m.med_cents) AS dev, m.med_cents
        |  FROM b JOIN m USING (g)),
        |md AS (SELECT g, dev AS mad_cents FROM (
        |    SELECT g, dev, row_number() OVER (PARTITION BY g ORDER BY dev) AS rn,
        |      count(*) OVER (PARTITION BY g) AS nn FROM d)
        |  WHERE rn = (nn + 1) // 2)
        |SELECT d.g AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(d.med_cents) AS BIGINT) AS med_cents,
        |  CAST(min(md.mad_cents) AS BIGINT) AS mad_cents,
        |  CAST(sum(CASE WHEN d.dev > 5 * md.mad_cents THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  CAST(max(d.dev) AS BIGINT) AS max_dev
        |FROM d JOIN md USING (g)
        |GROUP BY d.g ORDER BY event_type""".stripMargin,
    "p7_drift_windowed" ->
      """WITH rf AS (SELECT * FROM events WHERE event_id % 10 < 3),
        |ref AS (SELECT CAST(least(greatest(floor((value - 0.0) * 20
        |    / 600.0), 0.0), 19.0) AS BIGINT) AS k, count(*) AS na
        |  FROM rf GROUP BY 1),
        |cur AS (SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |    '%Y-%m-%d %H:%M:%S') AS ws,
        |    CAST(least(greatest(floor((value - 0.0) * 20
        |      / 600.0), 0.0), 19.0) AS BIGINT) AS k, count(*) AS nb
        |  FROM events GROUP BY 1, 2),
        |wins AS (SELECT DISTINCT ws FROM cur),
        |ks AS (SELECT DISTINCT k FROM
        |  (SELECT k FROM ref UNION ALL SELECT k FROM cur)),
        |gl AS (SELECT (SELECT sum(na) FROM ref) AS tna,
        |  (SELECT count(*) FROM ks) AS kb),
        |grid AS (SELECT w.ws, s.k, coalesce(r.na, 0) AS na,
        |    coalesce(c.nb, 0) AS nb
        |  FROM wins w CROSS JOIN ks s
        |  LEFT JOIN ref r ON r.k = s.k
        |  LEFT JOIN cur c ON c.ws = w.ws AND c.k = s.k),
        |tt AS (SELECT ws, sum(nb) AS tnb FROM grid GROUP BY 1),
        |j AS (SELECT g.ws, g.na, g.nb, t.tnb, gl.tna, gl.kb
        |  FROM grid g JOIN tt t USING (ws) CROSS JOIN gl),
        |v AS (SELECT ws, tnb,
        |    CAST(floor(((CAST(na + 1 AS DOUBLE) / (tna + kb)
        |      - CAST(nb + 1 AS DOUBLE) / (tnb + kb))
        |      * ln((CAST(na + 1 AS DOUBLE) / (tna + kb))
        |          / (CAST(nb + 1 AS DOUBLE) / (tnb + kb))))
        |      * 1048576.0) AS BIGINT) AS term_q
        |  FROM j)
        |SELECT 'value' AS metric, ws AS window_start,
        |  CAST(sum(term_q) AS BIGINT) AS psi_q,
        |  CAST(max(tnb) AS BIGINT) AS n_rows
        |FROM v GROUP BY 1, 2 ORDER BY window_start""".stripMargin,
    "p6_drift" ->
      """WITH av AS (SELECT * FROM events WHERE event_id % 2 = 0),
        |bv AS (SELECT * FROM events WHERE event_id % 2 = 1),
        |ca AS (SELECT CAST(least(greatest(floor((value - 0.0) * 20
        |    / 600.0), 0.0), 19.0) AS BIGINT) AS k, count(*) AS na
        |  FROM av GROUP BY 1),
        |cb AS (SELECT CAST(least(greatest(floor((value - 0.0) * 20
        |    / 600.0), 0.0), 19.0) AS BIGINT) AS k, count(*) AS nb
        |  FROM bv GROUP BY 1),
        |j AS (SELECT k, coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        |  FROM ca FULL OUTER JOIN cb USING (k)),
        |t AS (SELECT sum(na) AS tna, sum(nb) AS tnb, count(*) AS kb FROM j),
        |v AS (SELECT CAST(floor(sum(
        |    (CAST(na + 1 AS DOUBLE) / (tna + kb)
        |      - CAST(nb + 1 AS DOUBLE) / (tnb + kb))
        |    * ln((CAST(na + 1 AS DOUBLE) / (tna + kb))
        |        / (CAST(nb + 1 AS DOUBLE) / (tnb + kb)))) * 1048576.0)
        |  AS BIGINT) AS psi_q FROM j, t),
        |ce AS (SELECT event_type AS k, count(*) AS na FROM av GROUP BY 1),
        |cf AS (SELECT event_type AS k, count(*) AS nb FROM bv GROUP BY 1),
        |j2 AS (SELECT k, coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        |  FROM ce FULL OUTER JOIN cf USING (k)),
        |t2 AS (SELECT sum(na) AS tna, sum(nb) AS tnb, count(*) AS kb FROM j2),
        |w AS (SELECT CAST(floor(sum(
        |    (CAST(na + 1 AS DOUBLE) / (tna + kb)
        |      - CAST(nb + 1 AS DOUBLE) / (tnb + kb))
        |    * ln((CAST(na + 1 AS DOUBLE) / (tna + kb))
        |        / (CAST(nb + 1 AS DOUBLE) / (tnb + kb)))) * 1048576.0)
        |  AS BIGINT) AS psi_q FROM j2, t2)
        |SELECT 'event_type' AS metric, psi_q FROM w
        |UNION ALL SELECT 'value', psi_q FROM v
        |ORDER BY metric""".stripMargin,
    "p4_histogram" ->
      """WITH b AS (SELECT CAST(least(greatest(
        |      floor((value - 0.0) * 20 / 600.0), 0.0), 19.0) AS BIGINT)
        |    AS bucket FROM events WHERE value IS NOT NULL)
        |SELECT bucket, 0.0 + bucket * (600.0 / 20) AS bin_lo,
        |  0.0 + (bucket + 1) * (600.0 / 20) AS bin_hi,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "p3_expectations" ->
      """WITH v AS (
        |  SELECT 'not_null' AS rule, 'text' AS "column",
        |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations FROM documents
        |  UNION ALL SELECT 'unique', 'doc_id',
        |    CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT)
        |    FROM documents
        |  UNION ALL SELECT 'in_range', 'n_chars',
        |    CAST(sum(CASE WHEN n_chars < 1 OR n_chars > 200 THEN 1
        |      ELSE 0 END) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'in_set', 'lang',
        |    CAST(sum(CASE WHEN lang NOT IN ('de','en','es','fr','zh')
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'non_empty', 'text',
        |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents)
        |SELECT rule, "column", n_violations, n_rows,
        |  n_violations = 0 AS passed
        |FROM v CROSS JOIN n ORDER BY rule, "column"""".stripMargin,
    "f2_zorder_skip" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(sum(${sources.ZOrder.zValueSql("user_id",
               "CAST(floor(value) AS BIGINT)", 11)}) AS BIGINT) AS sum_z
        |FROM events
        |WHERE user_id BETWEEN 2 AND 8
        |  AND CAST(floor(value) AS BIGINT) BETWEEN 50 AND 150
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // compaction is a whole-table identity: the oracle never sees the
    // file layout at all
    "f3_compaction" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
  )

  /** x12's oracle — and x21's: the indexed path must reproduce the
    * ad-hoc path bit for bit. */
  private def bm25OracleSql: String = bm25OracleSqlWhere("")

  /** The x12/x21 BM25 mirror over an optional corpus restriction — a
    * post-build index DELETE must score exactly like a fresh index
    * built without the docs (idf/avgdl adjust), so x28's oracle is
    * this SQL with the deleted docs excluded at the source. */
  private def bm25OracleSqlWhere(docsPred: String): String =
    s"""WITH tok AS (SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      |  FROM documents$docsPred),
      |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
      |st AS (SELECT count(*) AS n,
      |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |qt(query_id, term) AS (VALUES $bm25QueriesSqlValues),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
      |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT qt.query_id, tf.doc_id,
      |    ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
      |      (tf.tf * 2.2) /
      |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
      |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      |    JOIN qt USING (term) CROSS JOIN st),
      |agg AS (SELECT query_id, doc_id, sum(s) AS score FROM sc
      |  GROUP BY 1, 2)
      |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS INT) AS "rank", doc_id
      |FROM agg QUALIFY "rank" <= 10
      |ORDER BY query_id, "rank"""".stripMargin

  /** x20's oracle: per-query chained self-joins of the positional
    * postings (slot i after slot i-1, within the span), tf = distinct
    * chain starts, then the shared BM25 scoring shape. Generated from
    * the same literal query set the entry uses. */
  private def slopOracleSql: String = {
    val window = 10
    val vocab = bm25Queries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    val chains = bm25Queries.map { case (qid, terms) =>
      val joins = terms.indices.drop(1).map { i =>
        s"JOIN an a$i ON a$i.doc_id = a0.doc_id AND a$i.term = '${terms(i)}'" +
          s" AND a$i.pos > a${i - 1}.pos AND a$i.pos - a0.pos < $window"
      }.mkString("\n  ")
      s"""pfq$qid AS (SELECT a0.doc_id, count(DISTINCT a0.pos) AS pf
         |  FROM an a0
         |  $joins
         |  WHERE a0.term = '${terms.head}' GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val pfUnion = bm25Queries.map { case (qid, _) =>
      s"SELECT $qid AS query_id, doc_id, pf FROM pfq$qid"
    }.mkString("\n  UNION ALL ")
    s"""WITH spt AS (SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS sp
       |  FROM documents),
       |tokp AS (SELECT doc_id, unnest(list_transform(
       |    generate_series(1, len(sp)),
       |    i -> {'pos': i, 'term': sp[i]})) AS u FROM spt),
       |an AS (SELECT doc_id, u.pos AS pos, u.term AS term FROM tokp
       |  WHERE u.term IN ($vocab)),
       |$chains,
       |pf AS ($pfUnion),
       |dfq AS (SELECT query_id, count(*) AS df FROM pf GROUP BY 1),
       |tok AS (SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
       |st AS (SELECT count(*) AS n,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |sc AS (SELECT pf.query_id, pf.doc_id,
       |    ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
       |      (pf.pf * 2.2) /
       |      (pf.pf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS score
       |  FROM pf JOIN dfq USING (query_id) JOIN dl USING (doc_id)
       |    CROSS JOIN st)
       |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id ASC) AS INT) AS "rank", doc_id
       |FROM sc QUALIFY "rank" <= 10
       |ORDER BY query_id, "rank"""".stripMargin
  }

  /** Brute-force exact top-5 mirror — the oracle for every ANN entry
    * whose oracle regime (full probe, unbounded candidates, exact
    * re-rank) reduces the index to exact search. */
  private def bruteForceTop5OracleSql: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |s AS (SELECT q.query_id, c.vec_id, list_cosine_similarity(qv, cv) AS sim
      |  FROM q JOIN c ON q.query_id <> c.vec_id)
      |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
      |  vec_id AS neighbor_id, sim
      |FROM s QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin

  /** DuckDB mirror of the full s10 k-means run: fixed-point quantize,
    * seed with the first k vectors, then per iteration an argmax-cosine
    * assignment (integer dot/norms => double-exact => bit-identical to
    * Spark) and an integer sum-vector centroid recompute. */
  private def kmeansOracleSql: String =
    s"WITH $kmeansCtes\nSELECT vec_id, cid AS cluster FROM a2 ORDER BY vec_id"

  /** DuckDB mirror of `Similarity.kmeansBalanced` (s13): the s10 CTE
    * chain's final centroids (c2), then `rounds` unrolled deferred-
    * acceptance rounds. Each round: every unassigned vector proposes
    * to its best OPEN centroid (cos DESC, cid ASC — the codegen'd
    * argmax's exact tie rule), each centroid accepts its top-remaining
    * proposals by (cos DESC, vec_id ASC), rejects carry to the next
    * round, capacities fold forward. Converged rounds are empty CTEs,
    * so unrolling past convergence is free. Capacity mirrors the
    * entry: ceil(n / k), the tightest feasible cap. */
  private def kmeansBalancedOracleSql: String =
    s"""WITH ${kmeansBalancedCtes("CAST(ceil(count(*) / 8.0) AS BIGINT)")}
       |SELECT vec_id, cid AS cluster FROM accall ORDER BY vec_id"""
      .stripMargin

  /** DuckDB mirror of `Similarity.ivfBalancedTopK` (s15): the s13
    * balanced-assignment chain, then the probe (top-nprobe cells per
    * query by exact-integer cosine against the final centroids, ties
    * to the lowest cell id) and the cell-restricted search — the same
    * quantized arithmetic as the assignment itself, so `sim` is
    * bit-identical. The local top-C stage in the Spark plan is
    * lossless (C ≥ k) and needs no mirror. */
  /** s18's oracle: the MMR greedy loop unrolled — candidate pool (cd)
    * and pairwise sims (pr) once, then per round a max-sim-to-selected
    * agg (m_r), the anti-joined argmax pick (s_r), and the cumulative
    * selection (sel_r). Weights written as the literals 0.7/0.3 in
    * both engines. */
  private def mmrOracleSql: String = {
    val rounds = (2 to 5).map { r =>
      s"""m$r AS MATERIALIZED (SELECT p.query_id, p.cid, max(p.psim) AS msim
         |  FROM pr p JOIN sel${r - 1} s ON p.query_id = s.query_id
         |    AND p.bcid = s.cid
         |  GROUP BY 1, 2),
         |s$r AS MATERIALIZED (SELECT * FROM (
         |    SELECT c.query_id, c.cid,
         |      0.7 * c.rel - 0.3 * m.msim AS score, $r AS pick
         |    FROM cd c JOIN m$r m ON m.query_id = c.query_id
         |      AND m.cid = c.cid
         |    LEFT JOIN sel${r - 1} s ON s.query_id = c.query_id
         |      AND s.cid = c.cid
         |    WHERE s.cid IS NULL)
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, cid ASC) = 1),
         |sel$r AS MATERIALIZED (SELECT query_id, cid, score, pick
         |  FROM sel${r - 1}
         |  UNION ALL SELECT query_id, cid, score, pick FROM s$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> CAST(floor(x * 1024) AS BIGINT)) AS q FROM embeddings),
       |en AS (SELECT vec_id, q,
       |  list_sum(list_transform(q, x -> x*x)) AS na FROM e),
       |qn AS (SELECT vec_id AS query_id, q AS qq, na AS qna FROM en
       |  WHERE vec_id < 6),
       |cd AS MATERIALIZED (SELECT query_id, cid, rel FROM (
       |  SELECT qn.query_id, e2.vec_id AS cid,
       |      CAST(list_sum(list_transform(range(1, 65),
       |        i -> qn.qq[i] * e2.q[i])) AS DOUBLE)
       |      / sqrt(CAST(qn.qna AS DOUBLE) * e2.na) AS rel
       |    FROM qn CROSS JOIN en e2 WHERE e2.vec_id <> qn.query_id
       |  QUALIFY row_number() OVER (PARTITION BY qn.query_id
       |    ORDER BY rel DESC, cid ASC) <= 20)),
       |pr AS MATERIALIZED (SELECT a.query_id, a.cid, b.cid AS bcid,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> ea.q[i] * eb.q[i])) AS DOUBLE)
       |    / sqrt(CAST(ea.na AS DOUBLE) * eb.na) AS psim
       |  FROM cd a JOIN cd b ON a.query_id = b.query_id AND a.cid <> b.cid
       |  JOIN en ea ON ea.vec_id = a.cid
       |  JOIN en eb ON eb.vec_id = b.cid),
       |sel1 AS MATERIALIZED (SELECT * FROM (
       |    SELECT query_id, cid, 0.7 * rel AS score, 1 AS pick FROM cd)
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, cid ASC) = 1),
       |$rounds
       |SELECT query_id, CAST(pick AS INT) AS pick, cid AS neighbor_id,
       |  score AS mmr_score
       |FROM sel5 ORDER BY query_id, pick""".stripMargin
  }

  /** x32's word co-occurrence edge set (both orientations, deduped by
    * UNION — Graph.pageRank normalizes with DISTINCT on its side) and
    * the keyword tail joined back over the same md5-prefix ids. */
  private val textrankEdgesBase: String =
    """SELECT CAST(('0x' || substr(md5(p.a), 1, 15)) AS BIGINT) AS src,
      |  CAST(('0x' || substr(md5(p.b), 1, 15)) AS BIGINT) AS dst
      |FROM (SELECT bg.a AS a, bg.b AS b FROM (
      |    SELECT unnest(list_transform(generate_series(1, len(sp) - 1),
      |      i -> {'a': sp[i], 'b': sp[i+1]})) AS bg
      |    FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS sp
      |      FROM documents) WHERE len(sp) >= 2)) p
      |JOIN (SELECT t AS w FROM (SELECT unnest(string_split_regex(
      |    trim(lower(text)), '\s+')) AS t FROM documents)
      |  GROUP BY 1 HAVING count(*) >= 5) fa ON fa.w = p.a
      |JOIN (SELECT t AS w FROM (SELECT unnest(string_split_regex(
      |    trim(lower(text)), '\s+')) AS t FROM documents)
      |  GROUP BY 1 HAVING count(*) >= 5) fb ON fb.w = p.b
      |WHERE p.a <> p.b""".stripMargin
  private def textrankOracleSql: String =
    operators.Graph.pageRankOracleSql(
      s"($textrankEdgesBase) UNION " +
        s"SELECT z.dst AS src, z.src AS dst FROM ($textrankEdgesBase) z",
      iterations = 4,
      tail = Some("""SELECT w.w AS word, r.rank_u AS score,
        |  CAST(row_number() OVER (ORDER BY r.rank_u DESC, w.w ASC)
        |    AS INT) AS "rank"
        |FROM r4 r JOIN (SELECT t AS w,
        |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS node
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS t FROM documents)
        |  GROUP BY 1 HAVING count(*) >= 5) w ON w.node = r.node
        |QUALIFY "rank" <= 20 ORDER BY "rank"""".stripMargin))

  private def ivfBalancedOracleSql: String = ivfBalancedOracleSqlWhere("")

  /** s28's mirror: the s16 probe chain AND the s1 flat chain, top-5
    * each, intersected per query. */
  private def recallAuditOracleSql: String =
    s"""WITH ${kmeansBalancedCtes("CAST(ceil(count(*) / 8.0) AS BIGINT)")},
       |qn AS MATERIALIZED (SELECT vec_id AS query_id, q AS qq, na AS qna
       |  FROM en WHERE vec_id < 10),
       |prb AS MATERIALIZED (SELECT query_id, qq, qna, cid FROM (
       |  SELECT q.query_id, q.qq, q.qna, c.cid,
       |      CAST(list_sum(list_transform(range(1, 65),
       |        i -> q.qq[i] * c.c[i])) AS DOUBLE)
       |      / sqrt(CAST(q.qna AS DOUBLE) * c.nc) AS cos
       |    FROM qn q CROSS JOIN cn c
       |  QUALIFY row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY cos DESC, c.cid ASC) <= 2)),
       |cd AS (SELECT p.query_id, e.vec_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> p.qq[i] * e.q[i])) AS DOUBLE)
       |    / sqrt(CAST(p.qna AS DOUBLE) * e.na) AS sim
       |  FROM prb p JOIN accall a ON p.cid = a.cid
       |    JOIN en e ON a.vec_id = e.vec_id
       |  WHERE e.vec_id <> p.query_id),
       |ivf AS (SELECT query_id, vec_id FROM cd
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, vec_id ASC) <= 5),
       |fq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[])
       |    AS qv FROM embeddings WHERE vec_id < 10),
       |fc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings),
       |fs AS (SELECT fq.query_id, fc.vec_id,
       |    list_cosine_similarity(qv, cv) AS sim
       |  FROM fq JOIN fc ON fq.query_id <> fc.vec_id),
       |flat AS (SELECT query_id, vec_id FROM fs
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, vec_id ASC) <= 5)
       |SELECT f.query_id, CAST(5 AS INT) AS k,
       |  CAST(count(i.vec_id) AS BIGINT) AS n_hits,
       |  CAST(count(i.vec_id) * 20 AS BIGINT) AS recall_pct
       |FROM flat f LEFT JOIN ivf i
       |  ON f.query_id = i.query_id AND f.vec_id = i.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin


  /** s26's mirror: the balanced-centroid chain, then the MIPS probe —
    * cells ranked by AUGMENTED-centroid cosine (caug = floor(√(m2 −
    * |c|²)) with m2 = max(na), the engine's frozen sidecar value) —
    * then the exact integer inner product over every probed row.
    * Both engines compute caug and the probe score through the same
    * exact-integer-to-double path, so the probe set matches exactly
    * and `ip` stays a hash-checkable BIGINT. */
  private def mipsIndexOracleSql: String =
    s"""WITH ${kmeansBalancedCtes("CAST(ceil(count(*) / 8.0) AS BIGINT)")},
       |qm AS MATERIALIZED (SELECT max(na) AS m2 FROM en),
       |qn AS MATERIALIZED (SELECT vec_id AS query_id, q AS qq, na AS qna
       |  FROM en WHERE vec_id < 10),
       |cna AS MATERIALIZED (SELECT cn.cid, cn.c, cn.nc,
       |    CAST(floor(sqrt(greatest(
       |      CAST((SELECT m2 FROM qm) AS DOUBLE) - cn.nc, 0.0)))
       |      AS BIGINT) AS caug FROM cn),
       |prb AS MATERIALIZED (SELECT query_id, qq, cid FROM (
       |  SELECT q.query_id, q.qq, c.cid,
       |      CAST(list_sum(list_transform(range(1, 65),
       |        i -> q.qq[i] * c.c[i])) AS DOUBLE)
       |      / sqrt(CAST(q.qna AS DOUBLE) *
       |        (c.nc + CAST(c.caug * c.caug AS DOUBLE))) AS cos
       |    FROM qn q CROSS JOIN cna c
       |  QUALIFY row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY cos DESC, c.cid ASC) <= 2)),
       |cd AS (SELECT p.query_id, e.vec_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> p.qq[i] * e.q[i])) AS BIGINT) AS ip
       |  FROM prb p JOIN accall a ON p.cid = a.cid
       |    JOIN en e ON a.vec_id = e.vec_id
       |  WHERE e.vec_id <> p.query_id)
       |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY ip DESC, vec_id ASC) AS INT) AS "rank",
       |  vec_id AS neighbor_id, ip
       |FROM cd QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin

  /** d16's mirror: the s15/s16 balanced-assignment chain, then
    * within-cell pairs scored with the same quantized cosine. */
  private def d16OracleSql: String =
    s"""WITH ${kmeansBalancedCtes("CAST(ceil(count(*) / 8.0) AS BIGINT)")},
       |pr AS (SELECT aa.vec_id AS id_a, bb.vec_id AS id_b,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> ea.q[i] * eb.q[i])) AS DOUBLE)
       |      / sqrt(CAST(ea.na AS DOUBLE) * eb.na) AS sim
       |  FROM accall aa JOIN accall bb
       |    ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
       |  JOIN en ea ON ea.vec_id = aa.vec_id
       |  JOIN en eb ON eb.vec_id = bb.vec_id)
       |SELECT id_a, id_b, sim FROM pr WHERE sim >= 0.45
       |ORDER BY id_a, id_b""".stripMargin

  /** s27's mirror: the balanced-assignment chain, then BOTH-ORDER
    * within-cell pairs scored with the quantized cosine and ranked
    * per source — d16's pair block with top-k in place of the
    * threshold. */
  private def knnGraphOracleSql: String =
    s"""WITH ${kmeansBalancedCtes("CAST(ceil(count(*) / 8.0) AS BIGINT)")},
       |pr AS (SELECT aa.vec_id AS src, bb.vec_id AS dst,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> ea.q[i] * eb.q[i])) AS DOUBLE)
       |      / sqrt(CAST(ea.na AS DOUBLE) * eb.na) AS sim
       |  FROM accall aa JOIN accall bb
       |    ON aa.cid = bb.cid AND aa.vec_id <> bb.vec_id
       |  JOIN en ea ON ea.vec_id = aa.vec_id
       |  JOIN en eb ON eb.vec_id = bb.vec_id)
       |SELECT src, CAST(row_number() OVER (PARTITION BY src
       |    ORDER BY sim DESC, dst ASC) AS INT) AS "rank", dst, sim
       |FROM pr QUALIFY "rank" <= 3 ORDER BY src, "rank"""".stripMargin

  /** s30/s31's shared graph chain: the NN-descent seed (within-cell
    * pairs ∪ within-id-hash-bucket pairs) and `rounds` unrolled
    * two-hop refinement rounds, each scored with the exact quantized
    * cosine and cut to top-k per source — ends at CTE g`rounds`. */
  private def nnDescentCtes(k: Int, rounds: Int, idBuckets: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""nb0 AS (SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM accall a JOIN accall b ON a.cid = b.cid
       |    AND a.vec_id <> b.vec_id
       |  UNION
       |  SELECT a.vec_id, b.vec_id FROM en a JOIN en b
       |    ON (a.vec_id % $idBuckets) = (b.vec_id % $idBuckets)
       |    AND a.vec_id <> b.vec_id),
       |g0 AS MATERIALIZED (SELECT src, dst, sim FROM (
       |  SELECT c.src, c.dst,
       |      CAST(list_sum(list_transform(range(1, 65),
       |        i -> ea.q[i] * eb.q[i])) AS DOUBLE)
       |      / sqrt(CAST(ea.na AS DOUBLE) * eb.na) AS sim
       |    FROM nb0 c JOIN en ea ON ea.vec_id = c.src
       |      JOIN en eb ON eb.vec_id = c.dst)
       |  QUALIFY row_number() OVER (PARTITION BY src
       |    ORDER BY sim DESC, dst ASC) <= $k)""".stripMargin)
    for (i <- 1 to rounds) {
      sb.append(s""",
         |nb$i AS (SELECT src, dst FROM g${i - 1}
         |  UNION
         |  SELECT a.src, b.dst FROM g${i - 1} a JOIN g${i - 1} b
         |    ON a.dst = b.src WHERE a.src <> b.dst),
         |g$i AS MATERIALIZED (SELECT src, dst, sim FROM (
         |  SELECT c.src, c.dst,
         |      CAST(list_sum(list_transform(range(1, 65),
         |        i -> ea.q[i] * eb.q[i])) AS DOUBLE)
         |      / sqrt(CAST(ea.na AS DOUBLE) * eb.na) AS sim
         |    FROM nb$i c JOIN en ea ON ea.vec_id = c.src
         |      JOIN en eb ON eb.vec_id = c.dst)
         |  QUALIFY row_number() OVER (PARTITION BY src
         |    ORDER BY sim DESC, dst ASC) <= $k)""".stripMargin)
    }
    sb.toString
  }

  /** s30's mirror: the balanced-assignment chain + the full unrolled
    * NN-descent chain, final ranks recomputed identically. */
  private def nnDescentOracleSql: String =
    s"""WITH ${kmeansBalancedCtes("CAST(ceil(count(*) / 8.0) AS BIGINT)")},
       |${nnDescentCtes(8, 2, 8)}
       |SELECT src, CAST(row_number() OVER (PARTITION BY src
       |    ORDER BY sim DESC, dst ASC) AS INT) AS "rank", dst, sim
       |FROM g2 ORDER BY src, "rank"""".stripMargin

  /** s31's mirror: nprobe-1 probe, the probed cells' one-hop halo
    * through the refined graph, exact re-rank over base ∪ halo. */
  private def graphServeOracleSql: String =
    s"""WITH ${kmeansBalancedCtes("CAST(ceil(count(*) / 8.0) AS BIGINT)")},
       |${nnDescentCtes(8, 2, 8)},
       |qn AS MATERIALIZED (SELECT vec_id AS query_id, q AS qq, na AS qna
       |  FROM en WHERE vec_id < 10),
       |prb AS MATERIALIZED (SELECT query_id, qq, qna, cid FROM (
       |  SELECT q.query_id, q.qq, q.qna, c.cid,
       |      CAST(list_sum(list_transform(range(1, 65),
       |        i -> q.qq[i] * c.c[i])) AS DOUBLE)
       |      / sqrt(CAST(q.qna AS DOUBLE) * c.nc) AS cos
       |    FROM qn q CROSS JOIN cn c
       |  QUALIFY row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY cos DESC, c.cid ASC) <= 1)),
       |bsim AS (SELECT p.query_id, e.vec_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> p.qq[i] * e.q[i])) AS DOUBLE)
       |    / sqrt(CAST(p.qna AS DOUBLE) * e.na) AS sim
       |  FROM prb p JOIN accall a ON p.cid = a.cid
       |    JOIN en e ON a.vec_id = e.vec_id
       |  WHERE e.vec_id <> p.query_id),
       |ex AS (SELECT DISTINCT p.query_id, g.dst AS vec_id
       |  FROM prb p JOIN accall a ON p.cid = a.cid
       |    JOIN g2 g ON g.src = a.vec_id
       |  WHERE g.dst <> p.query_id),
       |cand AS (SELECT query_id, vec_id FROM bsim
       |  UNION SELECT query_id, vec_id FROM ex),
       |csim AS (SELECT c.query_id, c.vec_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> q.qq[i] * e.q[i])) AS DOUBLE)
       |    / sqrt(CAST(q.qna AS DOUBLE) * e.na) AS sim
       |  FROM cand c JOIN qn q ON q.query_id = c.query_id
       |    JOIN en e ON e.vec_id = c.vec_id)
       |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
       |  vec_id AS neighbor_id, sim
       |FROM csim QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin

  /** c3's mirror: the s15/s16 balanced-assignment chain + nprobe-2
    * probe (the vector leg the shared index serves), the x25 lexical
    * BM25 block (the text index is bit-equal to the ad-hoc scorer —
    * x21's shared oracle), and the exact-integer RRF fusion tail. */
  private def c3OracleSql: String =
    s"""WITH ${kmeansBalancedCtes("CAST(ceil(count(*) / 8.0) AS BIGINT)")},
       |hqn AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS query_id,
       |    q AS qq, na AS qna
       |  FROM en WHERE vec_id IN (1, 2, 3)),
       |hprb AS MATERIALIZED (SELECT query_id, qq, qna, cid FROM (
       |  SELECT q.query_id, q.qq, q.qna, c.cid,
       |      CAST(list_sum(list_transform(range(1, 65),
       |        i -> q.qq[i] * c.c[i])) AS DOUBLE)
       |      / sqrt(CAST(q.qna AS DOUBLE) * c.nc) AS cos
       |    FROM hqn q CROSS JOIN cn c
       |  QUALIFY row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY cos DESC, c.cid ASC) <= 2)),
       |hcd AS (SELECT p.query_id, e.vec_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> p.qq[i] * e.q[i])) AS DOUBLE)
       |    / sqrt(CAST(p.qna AS DOUBLE) * e.na) AS sim
       |  FROM hprb p JOIN accall a ON p.cid = a.cid
       |    JOIN en e ON a.vec_id = e.vec_id
       |  WHERE e.vec_id <> p.query_id),
       |vec AS (SELECT query_id, vec_id AS doc_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS r
       |  FROM hcd QUALIFY r <= 10),
       |lxtok AS (SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |lxt AS (SELECT doc_id, term FROM lxtok WHERE term <> ''),
       |lxdl AS (SELECT doc_id, count(*) AS dl FROM lxt GROUP BY 1),
       |lxst AS (SELECT count(*) AS n,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lxdl),
       |qt(query_id, term) AS (VALUES $bm25QueriesSqlValues),
       |lxtf AS (SELECT doc_id, term, count(*) AS tf FROM lxt
       |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
       |lxdfq AS (SELECT term, count(*) AS df FROM lxtf GROUP BY 1),
       |lxsc AS (SELECT qt.query_id, lxtf.doc_id,
       |    ln(1.0 + (lxst.n - lxdfq.df + 0.5) / (lxdfq.df + 0.5)) *
       |      (lxtf.tf * 2.2) /
       |      (lxtf.tf + 1.2 * (0.25 + 0.75 * lxdl.dl / lxst.avgdl)) AS s
       |  FROM lxtf JOIN lxdfq USING (term) JOIN lxdl USING (doc_id)
       |    JOIN qt USING (term) CROSS JOIN lxst),
       |lxagg AS (SELECT query_id, doc_id, sum(s) AS score FROM lxsc
       |  GROUP BY 1, 2),
       |lex AS (SELECT query_id, doc_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS r
       |  FROM lxagg QUALIFY r <= 10),
       |uu AS (SELECT query_id, doc_id, r FROM lex
       |  UNION ALL SELECT query_id, doc_id, r FROM vec),
       |ff AS (SELECT query_id, doc_id,
       |    sum(142813628717760 // (60 + r)) AS rrf_score,
       |    count(*) AS n_lists FROM uu GROUP BY 1, 2)
       |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS "rank",
       |  doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
       |  CAST(n_lists AS BIGINT) AS n_lists
       |FROM ff QUALIFY "rank" <= 10
       |ORDER BY query_id, "rank"""".stripMargin

  /** s15's probe/search mirror with an optional extra search-side
    * candidate predicate — a post-build DELETE changes only the
    * candidate set (training saw the full corpus), so the s20
    * tombstone oracle is this chain with the deleted ids excluded. */
  private def ivfBalancedOracleSqlWhere(extraCandidatePred: String): String =
    s"""WITH ${kmeansBalancedCtes("CAST(ceil(count(*) / 8.0) AS BIGINT)")},
       |qn AS MATERIALIZED (SELECT vec_id AS query_id, q AS qq, na AS qna
       |  FROM en WHERE vec_id < 10),
       |prb AS MATERIALIZED (SELECT query_id, qq, qna, cid FROM (
       |  SELECT q.query_id, q.qq, q.qna, c.cid,
       |      CAST(list_sum(list_transform(range(1, 65),
       |        i -> q.qq[i] * c.c[i])) AS DOUBLE)
       |      / sqrt(CAST(q.qna AS DOUBLE) * c.nc) AS cos
       |    FROM qn q CROSS JOIN cn c
       |  QUALIFY row_number() OVER (PARTITION BY q.query_id
       |    ORDER BY cos DESC, c.cid ASC) <= 2)),
       |cd AS (SELECT p.query_id, e.vec_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> p.qq[i] * e.q[i])) AS DOUBLE)
       |    / sqrt(CAST(p.qna AS DOUBLE) * e.na) AS sim
       |  FROM prb p JOIN accall a ON p.cid = a.cid
       |    JOIN en e ON a.vec_id = e.vec_id
       |  WHERE e.vec_id <> p.query_id$extraCandidatePred)
       |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
       |  vec_id AS neighbor_id, sim
       |FROM cd QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin

  /** The balanced-assignment CTE chain (ends at `accall` = the full
    * (vec_id, cid) assignment), shared by the s13 oracle, d12's
    * cluster-restricted pair mirror, and s15's probe/search mirror.
    * `capacitySql` is the per-cluster capacity as a DuckDB scalar
    * expression over `embeddings`. */
  private def kmeansBalancedCtes(capacitySql: String): String = {
    val dim = 64; val k = 8; val rounds = 6
    // every round CTE is MATERIALIZED: each references the previous
    // round's state more than once, and inlining would re-expand the
    // whole chain exponentially in the round count
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT u.vec_id, u.q, u.na, c.cid,
         |    CAST(list_sum(list_transform(range(1, ${dim + 1}),
         |        i -> u.q[i] * c.c[i])) AS DOUBLE)
         |      / sqrt(CAST(u.na AS DOUBLE) * c.nc) AS cos
         |  FROM u$r u CROSS JOIN (SELECT cn.cid, cn.c, cn.nc
         |    FROM cn JOIN rem$r USING (cid) WHERE rem$r.rem > 0) c
         |  QUALIFY row_number() OVER (PARTITION BY u.vec_id
         |    ORDER BY cos DESC, c.cid ASC) = 1),
         |rk$r AS MATERIALIZED (SELECT p.*, rem$r.rem, row_number() OVER (
         |    PARTITION BY p.cid ORDER BY p.cos DESC, p.vec_id ASC) AS rk
         |  FROM p$r p JOIN rem$r USING (cid)),
         |acc$r AS MATERIALIZED (SELECT vec_id, cid FROM rk$r WHERE rk <= rem),
         |u${r + 1} AS MATERIALIZED (SELECT vec_id, q, na FROM rk$r WHERE rk > rem),
         |rem${r + 1} AS MATERIALIZED (SELECT rem$r.cid,
         |    rem$r.rem - coalesce(t.n, 0) AS rem
         |  FROM rem$r LEFT JOIN (SELECT cid, count(*) AS n
         |    FROM acc$r GROUP BY cid) t USING (cid))""".stripMargin
    }.mkString(",\n")
    val accUnion = (1 to rounds).map(r => s"SELECT * FROM acc$r")
      .mkString(" UNION ALL ")
    s"""$kmeansCtes,
       |cn AS MATERIALIZED (SELECT cid, c,
       |    CAST(list_sum(list_transform(c, x -> x*x)) AS DOUBLE) AS nc
       |  FROM c2),
       |u1 AS MATERIALIZED (SELECT vec_id, q, na FROM en),
       |rem1 AS MATERIALIZED (SELECT cid,
       |    (SELECT $capacitySql FROM embeddings) AS rem FROM cn),
       |$roundCtes,
       |accall AS MATERIALIZED ($accUnion)""".stripMargin
  }

  /** The k-means CTE chain (ends at assignment `a2`), shared by the
    * s10 oracle and d11's cluster-restricted pair mirror. */
  private def kmeansCtes: String =
    kmeansCtesSeeded(
      "c1 AS (SELECT vec_id AS cid, q AS c FROM e ORDER BY vec_id LIMIT 8)")

  /** s11's seed chain: DuckDB replays the deterministic farthest-point
    * greedy CTE by CTE — pp1 = min-id vector, then k-1 rounds of
    * (min-distance-to-seeds, argmax with id tie-break, union) — and
    * hands the result to the same assignment/recompute chain as s10.
    * All-integer distances make every round bit-identical to Spark's
    * codegen'd CentroidMinDist pass. */
  private def kmeansPpCtes: String = {
    val k = 8; val dim = 64
    val rounds = (2 to k).map { i =>
      s"""pd$i AS (SELECT e.vec_id,
         |    min(CAST(list_sum(list_transform(range(1, ${dim + 1}),
         |      j -> (e.q[j] - s.q[j]) * (e.q[j] - s.q[j]))) AS BIGINT)) AS md
         |  FROM e CROSS JOIN pp${i - 1} s GROUP BY e.vec_id),
         |pn$i AS (SELECT vec_id FROM pd$i ORDER BY md DESC, vec_id ASC LIMIT 1),
         |pp$i AS (SELECT * FROM pp${i - 1}
         |  UNION ALL SELECT e.vec_id, e.q FROM e JOIN pn$i USING (vec_id))"""
        .stripMargin
    }.mkString(",\n")
    kmeansCtesSeeded(
      s"""pp1 AS (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 1),
         |$rounds,
         |c1 AS (SELECT vec_id AS cid, q AS c FROM pp$k)""".stripMargin)
  }

  private def kmeansCtesSeeded(seedCte: String): String = {
    val scale = 1024; val dim = 64; val iterations = 2
    def assignCtes(n: Int, centsCte: String) =
      s"""s$n AS (SELECT en.vec_id, en.q, en.na, c.cid,
         |    CAST(list_sum(list_transform(range(1, ${dim + 1}),
         |        i -> en.q[i] * c.c[i])) AS DOUBLE)
         |      / sqrt(CAST(en.na AS DOUBLE) *
         |          CAST(list_sum(list_transform(c.c, x -> x*x)) AS DOUBLE))
         |      AS cos
         |  FROM en CROSS JOIN $centsCte c),
         |a$n AS (SELECT vec_id, q, cid FROM s$n
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cid ASC) = 1)""".stripMargin
    def recomputeCtes(n: Int) =
      s"""d$n AS (SELECT cid, i, CAST(sum(q[i]) AS BIGINT) AS s
         |  FROM a${n - 1}, range(1, ${dim + 1}) t(i) GROUP BY cid, i),
         |c$n AS (SELECT cid, list(s ORDER BY i) AS c FROM d$n GROUP BY cid)"""
        .stripMargin
    val iterCtes = (2 to iterations)
      .map(n => recomputeCtes(n) + ",\n" + assignCtes(n, s"c$n"))
      .mkString(",\n")
    s"""e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> CAST(floor(x * $scale) AS BIGINT)) AS q FROM embeddings),
       |en AS (SELECT vec_id, q,
       |  list_sum(list_transform(q, x -> x*x)) AS na FROM e),
       |$seedCte,
       |${assignCtes(1, "c1")},
       |$iterCtes""".stripMargin
  }

  /** DuckDB mirror of the full PQ pipeline (s8): the codebook derives
    * from the data INSIDE the SQL (first 16 vectors by id), encode is
    * argmin over explicit left-associated 8-term squared distances
    * (the same op order as `Quantize.subDist2`), reconstruction is
    * codeword-slice concatenation, then approx top-50 + exact re-rank. */
  private def pqOracleSql: String = {
    val m = 8; val cw = 16; val sub = 8
    def dist(j: Int, t: Int): String =
      (0 until sub).map { i =>
        val d = j * sub + i
        s"(v[${d + 1}] - refs[${t + 1}][${d + 1}]) * (v[${d + 1}] - refs[${t + 1}][${d + 1}])"
      }.mkString(" + ")
    val codes = (0 until m).map { j =>
      val structs = (0 until cw).map(t => s"{'d': ${dist(j, t)}, 't': $t}")
        .mkString(", ")
      s"struct_extract((list_sort([$structs]))[1], 't') AS c$j"
    }.mkString(", ")
    val recon = (0 until m)
      .map(j => s"refs[c$j + 1][${j * sub + 1}:${(j + 1) * sub}]")
      .mkString(" || ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb AS (SELECT list(v ORDER BY vec_id) AS refs
       |  FROM (SELECT * FROM e ORDER BY vec_id LIMIT $cw)),
       |codes AS (SELECT vec_id, $codes FROM e, cb),
       |r AS (SELECT vec_id, ($recon) AS rv FROM codes, cb),
       |a AS (SELECT q.vec_id AS query_id, q.v AS qv, r.vec_id,
       |    list_cosine_similarity(q.v, r.rv) AS asim
       |  FROM (SELECT * FROM e WHERE vec_id < 10) q
       |  JOIN r ON q.vec_id <> r.vec_id),
       |c AS (SELECT query_id, qv, vec_id FROM a
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY asim DESC, vec_id ASC) <= 50),
       |x AS (SELECT c.query_id, c.vec_id,
       |    list_cosine_similarity(c.qv, e.v) AS sim
       |  FROM c JOIN e ON c.vec_id = e.vec_id)
       |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, vec_id ASC) AS INT) AS "rank",
       |  vec_id AS neighbor_id, sim
       |FROM x QUALIFY "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin
  }

  /** d8/d10 shared oracle: exact-Jaccard pairs, transitive closure via
    * recursive CTE, min-id group labels + sizes. */
  /** Recursive transitive-closure CTEs over exact 3-gram Jaccard pairs
    * (t = 0.5, size-ratio prune) ending at `comp(doc_id, group_id)` —
    * shared by the d8/d10 groups oracle and x17's leakage-safe split. */
  private def jaccardClosureCtes: String =
    """RECURSIVE w AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
      |    ELSE list_transform(generate_series(1, len(sp) - 2),
      |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
      |  FROM (SELECT doc_id,
      |    string_split_regex(trim(text), '\s+') AS sp FROM documents)),
      |ww AS (SELECT doc_id, sh, len(sh) AS n FROM w),
      |e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM ww a JOIN ww b ON a.doc_id < b.doc_id
      |    AND a.n <= b.n * 2.0 AND b.n <= a.n * 2.0
      |    AND len(list_intersect(a.sh, b.sh)) /
      |      (a.n + b.n - len(list_intersect(a.sh, b.sh))) >= 0.5),
      |bi AS (SELECT id_a AS a, id_b AS b FROM e
      |  UNION ALL SELECT id_b, id_a FROM e),
      |reach(a, b) AS (SELECT a, b FROM bi
      |  UNION SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a),
      |comp AS (SELECT a AS doc_id, least(a, min(b)) AS group_id
      |  FROM reach GROUP BY a)""".stripMargin

  private def d8GroupsOracleSql: String =
    s"""WITH $jaccardClosureCtes,
      |sz AS (SELECT group_id, count(*) AS group_size FROM comp
      |  GROUP BY group_id)
      |SELECT c.doc_id, c.group_id, sz.group_size
      |FROM comp c JOIN sz USING (group_id) ORDER BY c.doc_id""".stripMargin

  /** Shared DuckDB CTE prefix mirroring `Quantize.minMaxRanges` +
    * `dequantizeColumn` over `embeddings`: per-dim ranges, SQ8 codes,
    * midpoint dequantization — same IEEE op order as the Spark side. */
  private def sqDequantCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |d AS (SELECT unnest(range(len(v))) AS i, unnest(v) AS x FROM e),
      |mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM d GROUP BY i),
      |l AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM mm),
      |dq AS (SELECT vec_id, list_transform(range(len(v)), i ->
      |    CASE WHEN mxs[i+1] = mns[i+1] THEN mns[i+1]
      |      ELSE mns[i+1] + (CAST(least(255, greatest(0,
      |        floor((v[i+1] - mns[i+1]) * 255.0 / (mxs[i+1] - mns[i+1])))) AS INT) + 0.5)
      |        * (mxs[i+1] - mns[i+1]) / 255.0 END) AS dv
      |  FROM e, l)""".stripMargin

  // ---- generated oracle SQL (md5-basis hash mirrors) ----------------
  // DuckDB reproduces graft's md5-basis signatures exactly: hex halves
  // of md5() cast to UBIGINT give the same 64-bit values the Scala
  // expressions derive from the digest bytes, and UBIGINT/HUGEINT
  // modular arithmetic mirrors Java's wrapping long arithmetic.

  /** Per-bit vote sums over md5-hashed whitespace tokens (64 SUM
    * aggregates) — the DuckDB half of [[graft.functions.Md5SimHash]]. */
  private def simhashVoteSums: String =
    (0 until 64).map(j =>
      s"SUM(CASE WHEN (h // ${BigInt(1) << j}::UBIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")

  /** Rebuild the packed 64-bit signature from the vote columns. */
  private def simhashFromVotes: String =
    (0 until 64).map(j =>
      s"CASE WHEN v$j > 0 THEN ${BigInt(1) << j}::UBIGINT ELSE 0::UBIGINT END")
      .mkString(" + ")

  private def tokensCte(table: String): String =
    s"""tt AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM $table),
       |h AS (SELECT doc_id, ('0x' || substr(md5(tok),17,16))::UBIGINT AS h
       |  FROM tt WHERE tok <> ''),
       |v AS (SELECT doc_id, $simhashVoteSums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, ($simhashFromVotes) AS sig FROM v)""".stripMargin

  /** Unrolled full-batch GD: one (g_t, w_t) CTE pair per training
    * round, replaying [[graft.operators.LinearModel]]'s exact
    * fixed-point arithmetic — integer gradient sums, Q20 weight
    * floors, left-associative score expressions. */
  private def x27OracleSql: String = {
    val nf = 16
    val lr = "0.5"
    val roundsN = 6
    def score(w: String) = (0 until nf).map(j =>
      s"($w.wq$j / 1048576.0) * x$j").mkString(" + ")
    val featDefs = ("1.0 AS x0" +: (1 until nf).map(j =>
      s"CAST(embedding[$j] AS DOUBLE) AS x$j")).mkString(", ")
    val zeros = (0 until nf).map(j => s"CAST(0 AS BIGINT) AS wq$j")
      .mkString(", ")
    val rounds = (1 to roundsN).map { t =>
      val gs = (0 until nf).map(j =>
        s"CAST(sum(CAST(floor((${score(s"w${t - 1}")} - y) * x$j " +
          s"* 1048576.0) AS BIGINT)) AS BIGINT) AS g$j").mkString(", ")
      val ws = (0 until nf).map(j =>
        s"CAST(floor((w${t - 1}.wq$j / 1048576.0 - $lr * " +
          s"(g$t.g$j / 1048576.0) / c.n) * 1048576.0) AS BIGINT) AS wq$j")
        .mkString(", ")
      s"g$t AS (SELECT $gs FROM f, w${t - 1}),\n" +
        s"w$t AS (SELECT $ws FROM g$t, w${t - 1}, c)"
    }.mkString(",\n")
    s"""WITH f AS (SELECT vec_id,
       |    CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y, $featDefs
       |  FROM embeddings),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
       |w0 AS (SELECT $zeros),
       |$rounds,
       |s AS (SELECT vec_id, CAST(y AS INT) AS y,
       |  CAST(floor((${score(s"w$roundsN")}) * 1048576.0) AS BIGINT)
       |    AS score_q FROM f, w$roundsN)
       |SELECT vec_id, y, score_q,
       |  CASE WHEN score_q >= 524288 THEN 1 ELSE 0 END AS pred
       |FROM s ORDER BY vec_id""".stripMargin
  }

  private def d3OracleSql: String = {
    val pows = (0 until 8).map(b => s"${BigInt(256).pow(b)}::UBIGINT")
      .mkString("[", ", ", "]")
    s"""WITH ${tokensCte("documents")},
       |banded AS (
       |  SELECT doc_id, sig, b, (sig // ($pows)[b+1]) % 256 AS bv
       |  FROM sig, unnest(generate_series(0, 7)) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sig AS sa, b.sig AS sb
       |  FROM banded a JOIN banded b
       |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 7
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def x4OracleSql: String =
    s"""WITH ${tokensCte("documents")},
       |roll AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(0::HUGEINT,
       |      list_transform(range(1, len(text)+1), i -> unicode(text[i:i])::HUGEINT)),
       |    (acc, c) -> (acc * 1000003 + c) % 18446744073709551616::HUGEINT) AS rh
       |  FROM documents)
       |SELECT r.doc_id,
       |  CASE WHEN rh >= 9223372036854775808::HUGEINT
       |    THEN (rh - 18446744073709551616::HUGEINT)::BIGINT ELSE rh::BIGINT END
       |    AS fingerprint,
       |  CASE WHEN sig >= 9223372036854775808::UBIGINT
       |    THEN (sig::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
       |    ELSE sig::BIGINT END AS content_simhash
       |FROM roll r JOIN sig USING (doc_id) ORDER BY doc_id""".stripMargin

  /** 64 group-signature slot minima (mod 2^63 keeps signed/unsigned
    * minima identical) + pairwise slot-agreement estimates — the DuckDB
    * half of [[graft.functions.Md5MinHash]] + MinHashMerge. */
  private def d6OracleSql: String = {
    val mins = (0 until 64).map(j =>
      s"min((h1::HUGEINT + ${j + 1}*h2::HUGEINT) % 9223372036854775808::HUGEINT) AS m$j")
      .mkString(", ")
    val matches = (0 until 64).map(j =>
      s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH g AS (SELECT doc_id, source,
       |  CASE WHEN len(sp) < 3 THEN [array_to_string(sp, ' ')]
       |    ELSE list_transform(generate_series(1, len(sp) - 2),
       |      i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END AS grams
       |  FROM (SELECT doc_id, source,
       |    string_split_regex(trim(text), '\\s+') AS sp FROM documents)),
       |u AS (SELECT source, unnest(grams) AS gram FROM g),
       |hh AS (SELECT source,
       |  ('0x' || substr(md5(gram),1,16))::UBIGINT AS h1,
       |  ('0x' || substr(md5(gram),17,16))::UBIGINT | 1::UBIGINT AS h2 FROM u),
       |s AS (SELECT source, $mins FROM hh GROUP BY source),
       |n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
       |SELECT a.source AS group_a, b.source AS group_b,
       |  na.n_docs AS docs_a, nb.n_docs AS docs_b,
       |  ($matches) / 64.0 AS est_jaccard
       |FROM s a JOIN s b ON a.source < b.source
       |JOIN n na ON na.source = a.source JOIN n nb ON nb.source = b.source
       |ORDER BY group_a, group_b""".stripMargin
  }

  /** One UNION ALL leg per documents column; KMV sits in its exact
    * regime at verify scale (k=1024 > every column's cardinality). */
  private def p1OracleSql: String = {
    val cols = Seq("doc_id" -> "bigint", "lang" -> "string",
      "n_chars" -> "bigint", "source" -> "string", "text" -> "string")
    val legs = cols.map { case (c, t) =>
      s"""SELECT '$c' AS "column", '$t' AS "type", count(*) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS approx_distinct,
         |  min(CAST($c AS VARCHAR)) AS min_value,
         |  max(CAST($c AS VARCHAR)) AS max_value FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM (\n$legs\n) ORDER BY "column"""".stripMargin
  }
}
