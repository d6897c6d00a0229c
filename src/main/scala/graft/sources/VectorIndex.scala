package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.operators.Similarity
import MarkerLayout.root

/** MATERIALIZED balanced-IVF vector index: the production ANN serving
  * path at 100 TB is an index on DISK, not a per-query re-train.
  * [[build]] runs the capacity-bounded coarse quantizer once
  * ([[Similarity.kmeansBalancedWithCentroids]] — s15's trainer) and
  * persists its layout; every query after that is a pruned read.
  *
  * The layout is the point (the ANN twin of [[TextIndex]]'s bucketed
  * postings):
  *
  *  - `cells/cluster=<cid>/` — quantized codes (vec_id, q, na),
  *    partitioned by cell. A query resolves its nprobe cells against
  *    the centroid sidecar and PARTITION PRUNING drops every other
  *    directory before a file opens: the per-query read is
  *    nprobe × capacity rows BY CONSTRUCTION, however skewed the
  *    corpus — the balanced quantizer's capacity invariant, now a
  *    physical property of the layout.
  *  - `centroids/` — the coarse quantizer (clusters rows, broadcast
  *    scale), `counts/` — per-cell occupancy (clusters rows; what
  *    append needs so capacity stays an invariant INCREMENTALLY),
  *    `stats/` — one row of corpus constants.
  *
  * Scoring is the same exact-integer cosine as
  * [[Similarity.ivfBalancedTopK]] — same quantization, same tie
  * breaks — so a fresh-built index answers BIT-IDENTICALLY to the
  * ad-hoc operator and shares its DuckDB oracle verbatim.
  *
  * Maintenance mirrors [[TextIndex]] exactly: [[append]] assigns new
  * vectors under each cell's REMAINING capacity (the same
  * deferred-acceptance rounds as the builder, against frozen
  * centroids) and fails loudly when the index is full — capacity is
  * never silently broken; [[appendBatch]]/[[maintainStream]] make
  * ingest exactly-once via `applied-<id>` markers keyed to the
  * checkpoint's run id; [[delete]] tombstones ids in O(ids) IO
  * (atomic `deleted-<seq>` batches, anti-joined by every read path
  * immediately); [[compact]] folds append debris AND tombstones into
  * one sorted file per cell inside a `gen-N` directory — occupancy
  * recomputes from what actually landed, so deleted capacity becomes
  * appendable — committed by ONE atomic marker create, with
  * superseded state retained one compaction round for in-flight
  * readers (the grace discipline).
  */
object VectorIndex {
  /** The flat layout [[build]] and [[buildKnnGraph]] write at the index
    * root before the first compaction: what a rebuild resets and the
    * second compaction sweeps. */
  private val FlatDirs = Seq("cells", "counts", "stats", "centroids",
    "pqbook", "sqranges", "mipsnorm", "knng")

  /** Train the balanced coarse quantizer and materialize the index at
    * `path`. Parameters mirror [[Similarity.ivfBalancedTopK]]; a
    * fresh-built index must answer exactly like the ad-hoc operator
    * with the same (clusters, iterations, capacity, maxRounds, scale).
    *
    * `pqSubspaces > 0` additionally trains a shared RESIDUAL product-
    * quantization codebook (codeword k-means over `q − centroid` of a
    * bounded deterministic sample) and stores each vector's compact
    * `codes` alongside its full-width `q` IN THE SAME cell files —
    * parquet is columnar, so a codes-only scan ([[topKPq]] stage 1)
    * never reads the wide `q` pages: the ADC serving path's IO is
    * subspaces × 4 bytes per row instead of dim × 8, the memory/IO
    * story that makes IVF-PQ the at-scale layout. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      clusters: Int, iterations: Int, capacity: Long, maxRounds: Int = 8,
      scale: Int = 1024, pqSubspaces: Int = 0, pqCodewords: Int = 16,
      pqIterations: Int = 5, pqTrainSample: Int = 8192,
      metaCols: Seq[String] = Nil, sqTier: Boolean = false,
      mipsTier: Boolean = false, bqTier: Boolean = false): Unit = {
    require(metaCols.forall(c => !ReservedCellCols.contains(c)),
      s"metaCols collide with index-internal columns: $ReservedCellCols")
    val spark = corpus.sparkSession
    MarkerLayout.reset(spark, path, FlatDirs)
    val (assigned, cents) = Similarity.kmeansBalancedWithCentroids(
      corpus, clusters, iterations, capacity, maxRounds, scale,
      idCol, vecCol)
    val dim = cents.head._2.length
    val base = corpus
      .select(col(idCol).cast("long").as("vec_id") +:
        quant(col(vecCol), scale).as("q") +: metaCols.map(col): _*)
      .withColumn("na", sqnorm(col("q")))
      .join(assigned, "vec_id")
    val withPq =
      if (pqSubspaces <= 0) base
      else {
        val book = trainResidualBook(base, cents, pqSubspaces, pqCodewords,
          pqIterations, pqTrainSample)
        writeBook(spark, s"$path/pqbook", book, pqSubspaces)
        withPqCodes(base, cents, book, pqSubspaces)
      }
    // the SQ tier encodes the RAW vector per dim against corpus-wide
    // ranges; the ranges freeze as a sidecar so appends encode
    // identically (the pqbook discipline)
    val codes =
      if (!sqTier) withPq
      else {
        val (mns, mxs) = graft.operators.Quantize.minMaxRanges(corpus, vecCol)
        writeSqRanges(spark, s"$path/sqranges", mns, mxs)
        withPq.join(
          corpus.select(col(idCol).cast("long").as("vec_id"),
            graft.operators.Quantize.codesColumn(col(vecCol), mns, mxs)
              .as("sq")),
          "vec_id")
      }
    // the MIPS tier: ONE extra long per row — the norm-augmentation
    // dimension a_x = floor(√(M² − |x|²)) in the quantized domain
    // (Bachrach '14 / Neyshabur & Srebro '15: augmented corpus norms
    // are all ~M, so augmented-COSINE order equals INNER-PRODUCT
    // order and every cosine serving tier of this layout can stage
    // MIPS candidates). M² freezes as a sidecar so appends augment
    // identically (the pqbook/sqranges discipline).
    val withMips =
      if (!mipsTier) codes
      else {
        val qm2 = codes.agg(coalesce(max("na"), lit(0L))).head.getLong(0)
        writeMipsNorm(spark, s"$path/mipsnorm", qm2)
        codes.withColumn("aug", augCol(col("na"), qm2))
      }
    // the BQ tier: TWO sign-free longs per row — the 64 sign bits of the quantized vector, MSB-first in 32-bit halves
    // (the m6 packing discipline: every downstream xor/popcount is
    // sign-safe on both engines). Derived from `q` alone, so appends
    // need no frozen sidecar — presence in the cell schema IS the
    // tier flag.
    val withBq =
      if (!bqTier) withMips
      else {
        require(dim == 64, s"bq tier packs exactly 64 dims (got $dim)")
        withMips.withColumn("bqhi", bqHalf(col("q"), 0, 31))
          .withColumn("bqlo", bqHalf(col("q"), 32, 63))
      }
    withBq
      .repartition(col("cluster"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cluster")
      .parquet(s"$path/cells")
    writeCentroids(spark, s"$path/centroids", cents)
    // occupancy from the CHECKPOINTED assignment (same rows the cells
    // hold — the base projection joins on vec_id 1:1) instead of
    // re-evaluating the whole corpus⋈assignment chain a second time;
    // clusters-bounded, so the sidecar writes driver-side (r14's
    // stats/centroids discipline)
    val cnts = assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    writeCounts(spark, s"$path/counts", cnts)
    writeStats(spark, s"$path/stats", cnts.map(_._2).sum, clusters, scale,
      capacity, dim, foldedThrough = -1L)
  }

  /** nprobe-pruned exact-integer-cosine top-k FROM the index — the
    * same probe selection, scoring arithmetic, and tie-breaks as
    * [[Similarity.ivfBalancedTopK]], with the corpus scan replaced by
    * a partition-pruned read of only the probed cells (base layout +
    * committed-but-unfolded streaming batches). */
  def topK(spark: SparkSession, path: String, queries: DataFrame, k: Int,
      nprobe: Int, candidates: Int = 50, queryId: String = "query_id",
      queryVec: String = "query_vec"): DataFrame =
    topKImpl(spark, path, queries, k, nprobe, candidates, queryId,
      queryVec, None)

  /** METADATA-FILTERED top-k — the "WHERE label = X AND nearest"
    * production query. The index must have been [[build]]t with
    * `metaCols`; `filter` is a predicate over those columns, applied
    * to the cell rows BEFORE scoring (pre-filter semantics: the true
    * top-k among vectors satisfying the predicate, not a post-hoc cut
    * of an unfiltered top-k). Because the predicate sits directly on
    * the parquet scan of the probed cells, Catalyst pushes it into the
    * reader (`PushedFilters`) — row groups whose column stats exclude
    * the predicate never decompress, so a selective filter makes the
    * probe CHEAPER, not costlier. With full probes the result is the
    * exact filtered answer; with pruned probes recall degrades as
    * selectivity rises (matching rows may live outside the probed
    * cells) — at scale, raise nprobe with filter selectivity. */
  def topKFiltered(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int, filter: Column, candidates: Int = 50,
      queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    require(metaColsOf(spark, path).nonEmpty,
      "topKFiltered requires an index built with metaCols")
    topKImpl(spark, path, queries, k, nprobe, candidates, queryId,
      queryVec, Some(filter))
  }

  private def topKImpl(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int, candidates: Int, queryId: String,
      queryVec: String, filter: Option[Column]): DataFrame = {
    val st = baseStats(spark, path)
    require(nprobe >= 1 && nprobe <= st.clusters && candidates >= k)
    val cents = readCentroids(spark, path)
    val probes = probesOf(queries, cents, st.scale, nprobe, queryId, queryVec)
    // the union of probed cells across the query batch — at most
    // `clusters` values, a bounded driver-side set that becomes the
    // partition filter the scan prunes on
    val probed = probes.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSeq
    val extra = if (filter.isDefined) metaColsOf(spark, path) else Nil
    val scanned = readCells(spark, path, extra)
    val indexed = filter.fold(scanned)(scanned.where)
      .where(col("cluster").isin(probed: _*))
    val wl = Window.partitionBy(col(queryId), col("__g_pid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col("vec_id").asc)
    broadcast(probes).join(indexed, Seq("cluster"))
      .where(col(queryId) =!= col("vec_id"))
      .withColumn("sim", dotl(col("__qq"), col("__cq")).cast("double") /
        sqrt(col("__qna").cast("double") * col("__cna")))
      .withColumn("__g_pid", spark_partition_id())
      .withColumn("__g_lc", row_number().over(wl))
      .where(col("__g_lc") <= candidates)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col(queryId), col("rank"), col("vec_id").as("neighbor_id"),
        col("sim"))
  }

  /** ALL-PAIRS k-NN GRAPH from the materialized layout — the
    * corpus-wide neighbor structure SemDeDup clustering, kNN-LM
    * retrieval, and graph-based label propagation start from.
    * Candidates are WITHIN-CELL pairs: ONE self-equi-join of the live
    * cell read on the cell id (the d16 discipline — the balanced
    * build's capacity bound makes pair work structural: Σ|cell|² ≤
    * capacity·n, never n²), scored with the exact integer cosine,
    * then per-source top-k by (sim desc, dst asc). No broadcast
    * anywhere: the only shuffle key is the cell id, and the top-k
    * window partitions by (cluster, src) — each vector lives in
    * exactly one cell, so the rank is the per-src rank while the
    * window rides the join's existing clustering instead of
    * re-Exchanging on src. Recall rises with cell capacity (or by
    * adding cell-neighbor probes at build); within-cell is the
    * 100 TB path.
    *
    * @return (src, rank, dst, sim) — up to k out-edges per vector.
    */
  def knnGraph(spark: SparkSession, path: String, k: Int): DataFrame = {
    require(k >= 1)
    val cells = readCells(spark, path)
    val a = cells.select(col("cluster"), col("vec_id").as("src"),
      col("__cq").as("__qa"), col("__cna").as("__na"))
    val b = cells.select(col("cluster"), col("vec_id").as("dst"),
      col("__cq").as("__qb"), col("__cna").as("__nb"))
    val w = Window.partitionBy("cluster", "src")
      .orderBy(col("sim").desc, col("dst").asc)
    a.join(b, Seq("cluster"))
      .where(col("src") =!= col("dst"))
      .withColumn("sim", dotl(col("__qa"), col("__qb")).cast("double") /
        sqrt(col("__na").cast("double") * col("__nb")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("src"), col("rank"), col("dst"), col("sim"))
  }

  /** NN-DESCENT k-NN graph over the indexed corpus — the
    * neighbor-of-a-neighbor-is-probably-a-neighbor refinement (Dong
    * et al. '11) that production graph-ANN builds (HNSW-family) rest
    * on, re-expressed as relational rounds with the determinism
    * discipline:
    *
    *  - SEED: classic NN-descent initializes RANDOMLY; here the seed
    *    is top-k per node over pairs sharing a CELL (the geometric
    *    arm — [[knnGraph]]'s candidates) UNION pairs sharing an
    *    id-hash bucket (`vec_id % idBuckets` — ids are uncorrelated
    *    with geometry, so this arm IS the random init, made
    *    replayable). The hash arm is what gives the graph cross-cell
    *    edges for refinement to improve on.
    *  - ROUND: candidates = current edges ∪ two-hop compositions
    *    (one self-equi-join of the graph on dst = src — never a
    *    corpus self-join), each candidate scored EXACTLY (integer
    *    cosine over the cell codes), top-k per source kept (ties to
    *    the lowest dst). Per-round work is O(n·k²) candidate rows —
    *    bounded structurally, like d16's capacity argument.
    *  - state is layout-keeping-checkpointed per round (the Graph.ckpt
    *    discipline), so lineage stays O(1).
    *
    * Every round is deterministic, so a SQL oracle unrolls the exact
    * chain. Returns (src, rank, dst, sim) like [[knnGraph]]. */
  def nnDescentGraph(spark: SparkSession, path: String, k: Int,
      rounds: Int, idBuckets: Int = 8): DataFrame =
    nnDescentGraphWithCells(spark, path, k, rounds, idBuckets)
      .select(col("src"), col("rank"), col("dst"), col("sim"))

  /** [[nnDescentGraph]] carrying each endpoint's CELL id (r15): the
    * scoring joins already touch the cell rows, so the src/dst cluster
    * columns the materialized layout needs ride along for free —
    * [[buildKnnGraph]] previously re-joined the finished graph against
    * the cells twice just to recover them (two exchanges + a cell
    * re-scan, now gone). The scoring join also binds the DST side
    * first so the final src-keyed join feeds the per-src rank window
    * without a re-Exchange. */
  private[sources] def nnDescentGraphWithCells(spark: SparkSession,
      path: String, k: Int, rounds: Int, idBuckets: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 0 && idBuckets >= 1)
    val v = readCells(spark, path).select(col("vec_id"), col("__cq"),
      col("__cna"), col("cluster"),
      pmod(col("vec_id"), lit(idBuckets.toLong)).as("__ib"))
    val a = v.select(col("vec_id").as("src"), col("__cq").as("__qa"),
      col("__cna").as("__na"), col("cluster").as("src_cluster"))
    val b = v.select(col("vec_id").as("dst"), col("__cq").as("__qb"),
      col("__cna").as("__nb"), col("cluster").as("dst_cluster"))
    val w = Window.partitionBy("src")
      .orderBy(col("sim").desc, col("dst").asc)
    def scoreRank(cand: DataFrame): DataFrame =
      cand.join(b, "dst").join(a, "src")
        .withColumn("sim", dotl(col("__qa"), col("__qb")).cast("double") /
          sqrt(col("__na").cast("double") * col("__nb")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("src"), col("rank"), col("dst"), col("sim"),
          col("src_cluster"), col("dst_cluster"))
    def withinPairs(groupCol: String): DataFrame =
      v.select(col(groupCol).as("__g"), col("vec_id").as("src"))
        .join(v.select(col(groupCol).as("__g"), col("vec_id").as("dst")),
          Seq("__g"))
        .where(col("src") =!= col("dst"))
        .select("src", "dst")
    var g = org.apache.spark.sql.graftshim.SparkShims
      .localCheckpointKeepingLayout(scoreRank(
        withinPairs("cluster").unionByName(withinPairs("__ib")).distinct()))
    for (_ <- 1 to rounds) {
      val hop = g.select(col("src"), col("dst").as("__mid"))
        .join(g.select(col("src").as("__mid"), col("dst")), "__mid")
        .where(col("src") =!= col("dst"))
        .select("src", "dst")
      g = org.apache.spark.sql.graftshim.SparkShims
        .localCheckpointKeepingLayout(scoreRank(
          g.select("src", "dst").unionByName(hop).distinct()))
    }
    g
  }

  /** Materialize the [[nnDescentGraph]] as a serving LAYOUT of the
    * index: rows partitioned by the SOURCE'S CELL (so a probe's halo
    * read opens only the probed cells' partition dirs — the same
    * pruning discipline the cell files themselves use) and carrying
    * the destination's cell id, so the expansion's exact re-rank can
    * prune its cell read to the clusters that actually hold
    * candidates. */
  def buildKnnGraph(spark: SparkSession, path: String, k: Int,
      rounds: Int, idBuckets: Int = 8): Unit = {
    // the cell ids ride out of the scoring joins themselves (r15) —
    // no post-hoc re-join against the cells to recover them
    nnDescentGraphWithCells(spark, path, k, rounds, idBuckets)
      .repartition(col("src_cluster"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("src_cluster")
      .parquet(s"${root(spark, path)}/knng")
  }

  /** Read the materialized [[buildKnnGraph]] layout back as the
    * (src, rank, dst, sim) relation [[nnDescentGraph]] produced —
    * the serving-side columns (bucket, dst_cluster) dropped. */
  def readKnnGraph(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"${root(spark, path)}/knng")
      .select(col("src"), col("rank"), col("dst"), col("sim"))

  /** INCREMENTAL NN-DESCENT maintenance (r11) — refresh the
    * materialized [[buildKnnGraph]] layout after [[append]] WITHOUT a
    * full rebuild: the refinement touches only edges incident to the
    * appended ids, and the layout rewrite touches only the source-cell
    * partition dirs whose rows changed.
    *
    *  - SEED: the new vectors pair against their own CELL-mates (the
    *    geometric arm, capacity-bounded per new id) AND against their
    *    id-hash BUCKET-mates (`vec_id % idBuckets` — the full build's
    *    replayable random-init arm, n/idBuckets-bounded per new id),
    *    in both directions; without the bucket arm the new nodes only
    *    ever see their own cells' neighborhoods and the refreshed
    *    graph measurably trails the rebuilt one on low-nprobe recall.
    *  - ROUND: candidates = two-hop compositions with a NEW endpoint
    *    (new→m→d gives the new id a candidate d; x→m→new gives an old
    *    id the new vector as a candidate), scored exactly, then top-k
    *    per AFFECTED source over (its current edges ∪ its candidates);
    *    unaffected sources carry verbatim — zero recompute.
    *  - REWRITE: only partition dirs holding an affected source are
    *    replaced (staged write + atomic dir swap per cell); the
    *    affected-cluster list is one clusters-bounded driver action.
    *    The swap is NOT atomic across cells, nor within one (delete,
    *    then rename): a reader that lists the graph while the loop
    *    runs sees some changed cells refreshed and the rest stale, and
    *    one cell without edges between its delete and its rename. A
    *    crash inside the loop leaves that mix on disk, and a cell caught
    *    between the two stays without edges until [[buildKnnGraph]]
    *    runs again. Stale or missing edges cost low-nprobe recall only
    *    (below), never a wrong exact answer.
    *
    * The refreshed graph serves [[topKExpand]] unchanged; at a full
    * probe serving stays bit-identical to [[topK]] whatever the graph
    * holds (candidates are a superset re-ranked exactly), so staleness
    * only ever costs low-nprobe recall — which this refresh buys back
    * at O(|new|·k²)-bounded round work instead of the O(n·k²) rebuild. */
  def nnDescentAppend(spark: SparkSession, path: String,
      newIds: DataFrame, k: Int, rounds: Int,
      idBuckets: Int = 8): Unit = {
    require(k >= 1 && rounds >= 0 && idBuckets >= 1)
    val live = root(spark, path)
    val gdir = s"$live/knng"
    require(new Path(gdir).getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(new Path(gdir)),
      s"no materialized knn graph under $path — buildKnnGraph first")
    val fresh = broadcast(newIds
      .select(col(newIds.columns.head).cast("long").as("__new")).distinct())
    val cells = readCells(spark, path)
    // endpoint CELL ids ride the scoring joins (r15): carried rows
    // keep the stored layout's cluster columns and rescored rows get
    // them from the cell join itself, so the final per-cell rewrite
    // needs no re-join against the cells; dst bound first so the
    // src-keyed join feeds the rank window without a re-Exchange
    val a = cells.select(col("vec_id").as("src"), col("__cq").as("__qa"),
      col("__cna").as("__na"), col("cluster").as("src_cluster"))
    val b = cells.select(col("vec_id").as("dst"), col("__cq").as("__qb"),
      col("__cna").as("__nb"), col("cluster").as("dst_cluster"))
    val w = Window.partitionBy("src")
      .orderBy(col("sim").desc, col("dst").asc)
    def scoreRank(cand: DataFrame): DataFrame =
      cand.join(b, "dst").join(a, "src")
        .withColumn("sim", dotl(col("__qa"), col("__qb")).cast("double") /
          sqrt(col("__na").cast("double") * col("__nb")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("src"), col("rank"), col("dst"), col("sim"),
          col("src_cluster"), col("dst_cluster"))
    def refresh(g: DataFrame, cand0: DataFrame): DataFrame = {
      val cand = cand0.where(col("src") =!= col("dst")).distinct()
      val affected = cand.select("src").distinct()
      val carried = g.join(affected, Seq("src"), "left_anti")
      val rescored = scoreRank(
        cand.unionByName(g.join(affected, Seq("src"), "left_semi")
          .select("src", "dst")).distinct())
      org.apache.spark.sql.graftshim.SparkShims
        .localCheckpointKeepingLayout(carried.unionByName(rescored))
    }
    // seed: new ids × their cell-mates AND × their id-bucket-mates,
    // both directions (the full build's two init arms, restricted to
    // pairs with a new endpoint)
    def newPairs(grouped: DataFrame, key: String): DataFrame = {
      val l = grouped.select(col(key).as("__g"), col("vec_id"))
      val lNew = l.join(fresh, l("vec_id") === fresh("__new"))
        .select(col("__g"), col("vec_id"))
      lNew.select(col("__g"), col("vec_id").as("src"))
        .join(l.select(col("__g"), col("vec_id").as("dst")), Seq("__g"))
        .select("src", "dst")
        .unionByName(l.select(col("__g"), col("vec_id").as("src"))
          .join(lNew.select(col("__g"), col("vec_id").as("dst")),
            Seq("__g"))
          .select("src", "dst"))
    }
    val newClusters = cells.join(fresh, cells("vec_id") === fresh("__new"))
      .select("cluster").distinct()
    val cellArm = newPairs(
      cells.join(broadcast(newClusters), Seq("cluster"))
        .select(col("cluster"), col("vec_id")), "cluster")
    val bucketArm = newPairs(
      cells.select(pmod(col("vec_id"), lit(idBuckets.toLong)).as("__ib"),
        col("vec_id")), "__ib")
    val seeds = cellArm.unionByName(bucketArm)
    // the partition-discovered src_cluster reads back as int —
    // normalize to long so carried rows union with rescored ones
    // (whose clusters come from readCells, already long)
    var g = refresh(spark.read.parquet(gdir)
      .select(col("src"), col("rank"), col("dst"), col("sim"),
        col("src_cluster").cast("long").as("src_cluster"),
        col("dst_cluster").cast("long").as("dst_cluster")), seeds)
    for (_ <- 1 to rounds) {
      val fromNew = g.join(fresh, g("src") === fresh("__new"), "left_semi")
        .select(col("src"), col("dst").as("__mid"))
      val intoNew = g.join(fresh, g("dst") === fresh("__new"), "left_semi")
        .select(col("src").as("__mid"), col("dst"))
      val hopA = fromNew.join( // new → mid → d: candidates FOR new ids
        g.select(col("src").as("__mid"), col("dst")), "__mid")
        .select("src", "dst")
      val hopB = g.select(col("src"), col("dst").as("__mid")) // x → mid → new
        .join(intoNew, "__mid")
        .select("src", "dst")
      g = refresh(g, hopA.unionByName(hopB))
    }
    // rewrite ONLY the cells whose source rows changed: the srcs that
    // gained/lost edges are the seeds' + hops' sources, all of which
    // live in g now (with their cell ids) — diff against the stored
    // layout. ONE partitioned write stages every changed cell (r15 —
    // the old per-cluster loop re-evaluated the rewrite plan and ran
    // a separate write job per cell), then each changed dir swaps in.
    val old = spark.read.parquet(gdir)
      .withColumn("src_cluster", col("src_cluster").cast("long"))
    val changedClusters = g.select("src", "rank", "dst", "src_cluster")
      .exceptAll(old.select("src", "rank", "dst", "src_cluster"))
      .select("src_cluster").distinct()
      .collect().map(_.getLong(0)).sorted // one clusters-bounded action
    val fs = new Path(gdir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (changedClusters.nonEmpty) {
      val stageDir = s"$live/knng.tmp-stage"
      fs.delete(new Path(stageDir), true)
      g.where(col("src_cluster").isin(changedClusters: _*))
        .repartition(col("src_cluster")) // one file per changed cell
        .write.mode(SaveMode.Overwrite)
        .partitionBy("src_cluster")
        .parquet(stageDir)
      changedClusters.foreach { c =>
        replaceDir(spark, s"$stageDir/src_cluster=$c",
          s"$gdir/src_cluster=$c")
      }
      fs.delete(new Path(stageDir), true)
    }
  }

  /** GRAPH-ASSISTED serving — IVF probe, then the probed cells' HALO
    * through the materialized [[buildKnnGraph]] layout: every graph
    * edge LEAVING a probed cell contributes its destination as a
    * candidate, and the EXACT integer re-rank runs over base ∪ halo
    * (same cosine and tie-breaks as [[topK]]). This is how a
    * low-nprobe serving path buys back the recall the probe budget
    * gave up: a query's true neighbor in an unprobed cell is
    * reachable whenever ANY probed-cell member links to it — the
    * cell-boundary nodes carry those edges even when the query's own
    * top-k neighbors are all cell-mates (which is why expanding only
    * from the top-k seeds fails: their neighbors ARE the cell).
    * Halo work is bounded structurally: ≤ capacity·k candidate rows
    * per probed cell (the d16 argument). The graph read
    * partition-prunes to the probed cells' dirs; the halo's cell
    * read prunes to the distinct destination cells (one
    * clusters-bounded driver action — the f18 discipline). The
    * candidate set is a SUPERSET of the probed rows re-ranked
    * exactly, so per-query recall can only improve on [[topK]] at
    * the same nprobe, and at a full probe the result is bit-identical
    * to it. Deleted vectors drop out because the re-rank reads live
    * cells (tombstone anti-join). */
  def topKExpand(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int, queryId: String = "query_id",
      queryVec: String = "query_vec"): DataFrame = {
    val st = baseStats(spark, path)
    require(nprobe >= 1 && nprobe <= st.clusters)
    val gdir = s"${root(spark, path)}/knng"
    require(new Path(gdir).getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(new Path(gdir)),
      s"no materialized knn graph under $path — buildKnnGraph first")
    val cents = readCentroids(spark, path)
    val probes = probesOf(queries, cents, st.scale, nprobe, queryId,
      queryVec)
    val probed = probes.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cells = readCells(spark, path)
    val qv = probes.select(col(queryId), col("__qq"), col("__qna"))
      .distinct()
    def scored(cand: DataFrame): DataFrame =
      cand.join(broadcast(qv), Seq(queryId))
        .withColumn("sim", dotl(col("__qq"), col("__cq")).cast("double") /
          sqrt(col("__qna").cast("double") * col("__cna")))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val baseScored = scored(
      broadcast(probes.select(col(queryId), col("cluster")))
        .join(cells, Seq("cluster"))
        .where(col(queryId) =!= col("vec_id"))
        .select(col(queryId), col("vec_id"), col("__cq"), col("__cna")))
    // halo: edges leaving the probed cells (partition-pruned graph
    // read), fanned out to every query that probed the source cell;
    // a destination landing in a cell THAT QUERY already probed is
    // anti-joined away (it is in the query's own base candidates) —
    // per query, not batch-global: another query's probed cell is
    // still an expansion for this one
    val halo = spark.read.parquet(gdir)
      .where(col("src_cluster").isin(probed: _*))
      .join(broadcast(probes.select(col(queryId),
        col("cluster").as("src_cluster"))), Seq("src_cluster"))
      .where(col("dst") =!= col(queryId))
      .select(col(queryId), col("dst"), col("dst_cluster"))
      .join(broadcast(probes.select(col(queryId),
        col("cluster").as("dst_cluster"))), Seq(queryId, "dst_cluster"),
        "left_anti")
    val expClusters = halo.select("dst_cluster").distinct()
      .collect().map(_.getLong(0)).toSeq
    val expScored =
      if (expClusters.isEmpty) baseScored.limit(0)
      else scored(halo
        .select(col(queryId), col("dst")).distinct()
        .join(cells.where(col("cluster").isin(expClusters: _*))
            .select(col("vec_id"), col("__cq"), col("__cna")),
          col("dst") === col("vec_id"))
        .select(col(queryId), col("vec_id"), col("__cq"), col("__cna")))
    baseScored.select(col(queryId), col("vec_id"), col("sim"))
      .unionByName(expScored.select(col(queryId), col("vec_id"), col("sim")))
      .dropDuplicates(queryId, "vec_id")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(queryId), col("rank"), col("vec_id").as("neighbor_id"),
        col("sim"))
  }

  /** ADC serving from the COMPACT codes — IVF-PQ over the
    * materialized layout. Stage 1 scans ONLY (vec_id, codes) of the
    * probed cells (columnar projection: the wide `q` pages are never
    * read — subspaces × 4 bytes per row of IO instead of dim × 8),
    * reconstructs `centroid + codeword` per row from the broadcast
    * book, and stages `candidates` per query by approximate cosine.
    * Stage 2 (`rerank = true`, default) re-scores just the staged
    * candidates EXACTLY against the full-width codes of the probed
    * cells — same integer cosine and tie-breaks as [[topK]], so with
    * `candidates` at least the probed row count the result is
    * bit-identical to [[topK]] (the s12 oracle-regime argument).
    * `rerank = false` returns the pure-ADC ranking: the cheapest
    * serving path, recall bounded by reconstruction quality. */
  def topKPq(spark: SparkSession, path: String, queries: DataFrame, k: Int,
      nprobe: Int, candidates: Int = 50, rerank: Boolean = true,
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    import spark.implicits._
    val st = baseStats(spark, path)
    require(nprobe >= 1 && nprobe <= st.clusters && candidates >= k)
    val cents = readCentroids(spark, path)
    val (book, subspaces) = readBook(spark, path)
    val probes = probesOf(queries, cents, st.scale, nprobe, queryId, queryVec)
    val probed = probes.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSeq
    val centDf = broadcast(cents.map { case (cid, cv) =>
      (cid, cv.map(_.toDouble).toSeq) }.toDF("cluster", "__cent"))
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // stage 1: codes-only scan of probed cells + ADC ranking
    val codeScan = readCellsCols(spark, path, Seq("codes"))
      .where(col("cluster").isin(probed: _*))
    val recon = zip_with(col("__cent"),
      graft.operators.Quantize.pqReconstructFromCodes(col("codes"), book,
        subspaces), (a, b) => a + b)
    val wl = Window.partitionBy(col(queryId), col("__g_pid"))
      .orderBy(col("__asim").desc, col("vec_id").asc)
    val wc = Window.partitionBy(col(queryId))
      .orderBy(col("__asim").desc, col("vec_id").asc)
    val staged = broadcast(probes).join(codeScan, Seq("cluster"))
      .where(col(queryId) =!= col("vec_id"))
      .join(centDf, "cluster")
      .withColumn("__asim", graft.functions.GraftFunctions.cosine_similarity_d(
        col("__qq").cast(ArrayType(DoubleType)), recon))
      .withColumn("__g_pid", spark_partition_id())
      .withColumn("__g_lc", row_number().over(wl))
      .where(col("__g_lc") <= candidates)
      .withColumn("__g_cr", row_number().over(wc))
      .where(col("__g_cr") <= candidates)
    if (!rerank) {
      val w = Window.partitionBy(col(queryId))
        .orderBy(col("__asim").desc, col("vec_id").asc)
      staged
        .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col(queryId), col("rank"), col("vec_id").as("neighbor_id"),
          col("__asim").as("sim"))
    } else {
      // stage 2: exact integer-cosine re-rank of just the candidates —
      // the bounded candidate set broadcasts against the probed cells'
      // full-width columns
      val full = readCells(spark, path).where(col("cluster").isin(probed: _*))
      val w = Window.partitionBy(col(queryId))
        .orderBy(col("sim").desc, col("vec_id").asc)
      full.select(col("vec_id"), col("__cq"), col("__cna"))
        .join(broadcast(staged
          .select(col(queryId), col("__qq"), col("__qna"), col("vec_id"))),
          "vec_id")
        .withColumn("sim", dotl(col("__qq"), col("__cq")).cast("double") /
          sqrt(col("__qna").cast("double") * col("__cna")))
        .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col(queryId), col("rank"), col("vec_id").as("neighbor_id"),
          col("sim"))
    }
  }

  /** SQ8 serving from the index — the ladder's middle tier between
    * the full-width scan ([[topK]]) and ADC ([[topKPq]]): stage 1
    * scans ONLY (vec_id, sq) of the probed cells (8 bytes/dim → 1;
    * columnar projection leaves the wide `q` pages unread),
    * reconstructs per-dim midpoints from the broadcast frozen ranges,
    * and stages `candidates` per query by approximate cosine; stage 2
    * (`rerank = true`, default) re-scores the staged candidates
    * EXACTLY — with `candidates` at least the probed row count the
    * result is bit-identical to [[topK]] (the s17 oracle-regime
    * argument, at SQ's cheaper decode: one multiply-add per dim, no
    * codebook lookups). `rerank = false` returns the pure-SQ ranking. */
  def topKSq(spark: SparkSession, path: String, queries: DataFrame, k: Int,
      nprobe: Int, candidates: Int = 50, rerank: Boolean = true,
      queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val st = baseStats(spark, path)
    require(nprobe >= 1 && nprobe <= st.clusters && candidates >= k)
    val cents = readCentroids(spark, path)
    val (mns, mxs) = readSqRanges(spark, path)
    val probes = probesOf(queries, cents, st.scale, nprobe, queryId, queryVec)
    val probed = probes.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSeq
    val codeScan = readCellsCols(spark, path, Seq("sq"))
      .where(col("cluster").isin(probed: _*))
    val recon = graft.operators.Quantize.decodeColumn(col("sq"), mns, mxs)
    val wl = Window.partitionBy(col(queryId), col("__g_pid"))
      .orderBy(col("__asim").desc, col("vec_id").asc)
    val wc = Window.partitionBy(col(queryId))
      .orderBy(col("__asim").desc, col("vec_id").asc)
    val staged = broadcast(probes).join(codeScan, Seq("cluster"))
      .where(col(queryId) =!= col("vec_id"))
      .withColumn("__asim", graft.functions.GraftFunctions.cosine_similarity_d(
        col("__qq").cast(ArrayType(DoubleType)), recon))
      .withColumn("__g_pid", spark_partition_id())
      .withColumn("__g_lc", row_number().over(wl))
      .where(col("__g_lc") <= candidates)
      .withColumn("__g_cr", row_number().over(wc))
      .where(col("__g_cr") <= candidates)
    if (!rerank) {
      val w = Window.partitionBy(col(queryId))
        .orderBy(col("__asim").desc, col("vec_id").asc)
      staged
        .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col(queryId), col("rank"), col("vec_id").as("neighbor_id"),
          col("__asim").as("sim"))
    } else {
      val full = readCells(spark, path).where(col("cluster").isin(probed: _*))
      val w = Window.partitionBy(col(queryId))
        .orderBy(col("sim").desc, col("vec_id").asc)
      full.select(col("vec_id"), col("__cq"), col("__cna"))
        .join(broadcast(staged
          .select(col(queryId), col("__qq"), col("__qna"), col("vec_id"))),
          "vec_id")
        .withColumn("sim", dotl(col("__qq"), col("__cq")).cast("double") /
          sqrt(col("__qna").cast("double") * col("__cna")))
        .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
        .select(col(queryId), col("rank"), col("vec_id").as("neighbor_id"),
          col("sim"))
    }
  }

  /** BINARY-QUANTIZATION serving tier — Hamming pre-rank over the
    * sign-bit words ([[build]] `bqTier = true`): stage 1 scans ONLY
    * (vec_id, bqhi, bqlo) of the probed cells (16 bytes of payload
    * per row instead of dim × 8 — the most compact candidate scan in
    * the ladder, the rationale behind every production BQ
    * deployment) and stages `candidates` per query by ascending
    * Hamming distance between sign words (ties to the lowest
    * vec_id); stage 2 re-scores just the staged candidates EXACTLY
    * against the full-width codes — same integer cosine and
    * tie-breaks as [[topK]], so with `candidates` at least the
    * probed row count the result is bit-identical to [[topK]] (the
    * s17/s22 oracle-regime argument). Tighter candidate budgets pay
    * recall bounded by how well sign agreement tracks cosine — the
    * [[recallAudit]]-style measurement, not a guess, is the tuning
    * loop. */
  def topKBq(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int, candidates: Int = 50,
      queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val st = baseStats(spark, path)
    require(nprobe >= 1 && nprobe <= st.clusters && candidates >= k)
    require(st.dim == 64, "bq tier packs exactly 64 dims")
    val cents = readCentroids(spark, path)
    val probes = probesOf(queries, cents, st.scale, nprobe, queryId,
      queryVec)
    val probed = probes.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSeq
    val qb = probes
      .withColumn("__qhi", bqHalf(col("__qq"), 0, 31))
      .withColumn("__qlo", bqHalf(col("__qq"), 32, 63))
    val codeScan = readCellsCols(spark, path, Seq("bqhi", "bqlo"))
      .where(col("cluster").isin(probed: _*))
    val wl = Window.partitionBy(col(queryId), col("__g_pid"))
      .orderBy(col("__ham").asc, col("vec_id").asc)
    val wc = Window.partitionBy(col(queryId))
      .orderBy(col("__ham").asc, col("vec_id").asc)
    val staged = broadcast(qb).join(codeScan, Seq("cluster"))
      .where(col(queryId) =!= col("vec_id"))
      .withColumn("__ham",
        (bit_count(col("__qhi").bitwiseXOR(col("bqhi"))) +
          bit_count(col("__qlo").bitwiseXOR(col("bqlo")))).cast("int"))
      .withColumn("__g_pid", spark_partition_id())
      .withColumn("__g_lc", row_number().over(wl))
      .where(col("__g_lc") <= candidates)
      .withColumn("__g_cr", row_number().over(wc))
      .where(col("__g_cr") <= candidates)
    val full = readCells(spark, path).where(col("cluster").isin(probed: _*))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("sim").desc, col("vec_id").asc)
    full.select(col("vec_id"), col("__cq"), col("__cna"))
      .join(broadcast(staged
        .select(col(queryId), col("__qq"), col("__qna"), col("vec_id"))),
        "vec_id")
      .withColumn("sim", dotl(col("__qq"), col("__cq")).cast("double") /
        sqrt(col("__qna").cast("double") * col("__cna")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col(queryId), col("rank"), col("vec_id").as("neighbor_id"),
        col("sim"))
  }

  /** MAXIMUM-INNER-PRODUCT top-k served FROM the index — the MIPS
    * tier ([[build]] `mipsTier = true`): the norm-augmentation
    * reduction (Bachrach '14 / Neyshabur & Srebro '15) over the SAME
    * materialized cosine layout the s16/s17/s22 tiers read.
    *
    * Probe selection ranks cells by AUGMENTED-centroid cosine — the
    * centroid augmented against the frozen M² exactly like a vector
    * (caug = floor(√(M² − |c|²))), derived from already-stored state
    * so appends never shift it. Because augmented norms are ~constant
    * (= M), this ranking is the inner-product cell bias MIPS needs:
    * a high-norm cell legitimately outranks a near-parallel low-norm
    * one. Candidate staging scores probed rows by augmented cosine
    * using the materialized per-row `aug` column; the final ranking
    * re-scores candidates by the EXACT integer inner product on the
    * original full-width codes — augmentation can stage, never
    * mis-score. With nprobe = clusters and `candidates` ≥ the probed
    * rows the result is BIT-IDENTICAL to
    * [[graft.operators.Similarity.mipsTopK]] (spec-asserted); pruned
    * probes pay the usual nprobe × capacity read bound.
    *
    * @return (queryId, rank, neighbor_id, ip BIGINT) — `ip` exact. */
  def topKMips(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int, candidates: Int = 50,
      queryId: String = "query_id", queryVec: String = "query_vec")
      : DataFrame = {
    val st = baseStats(spark, path)
    require(nprobe >= 1 && nprobe <= st.clusters && candidates >= k)
    val qm2 = readMipsNorm(spark, path)
    val cents = readCentroids(spark, path)
    val probes = queries
      .select(col(queryId), quant(col(queryVec), st.scale).as("__qq"))
      .withColumn("__qna", sqnorm(col("__qq")))
      .withColumn("__pc", explode(slice(array_sort(array(
        cents.map { case (cid, cv) =>
          val nc = cv.map(x => x * x).sum
          val caug = math.floor(math.sqrt(
            math.max(qm2.toDouble - nc.toDouble, 0.0))).toLong
          val ncAug = (nc + caug * caug).toDouble
          struct((-(dotl(col("__qq"), lit(cv)).cast("double") /
            sqrt(col("__qna").cast("double") * lit(ncAug)))).as("negcos"),
            lit(cid).as("cid"))
        }: _*)), lit(1), lit(nprobe))))
      .select(col(queryId), col("__qq"), col("__qna"),
        col("__pc.cid").as("cluster"))
    val probed = probes.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cells = readCells(spark, path, Seq("aug"))
      .where(col("cluster").isin(probed: _*))
    val wl = Window.partitionBy(col(queryId), col("__g_pid"))
      .orderBy(col("__asim").desc, col("vec_id").asc)
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("ip").desc, col("vec_id").asc)
    broadcast(probes).join(cells, Seq("cluster"))
      .where(col(queryId) =!= col("vec_id"))
      .withColumn("__asim", dotl(col("__qq"), col("__cq")).cast("double") /
        sqrt(col("__qna").cast("double") *
          (col("__cna") + col("aug") * col("aug")).cast("double")))
      .withColumn("__g_pid", spark_partition_id())
      .withColumn("__g_lc", row_number().over(wl))
      .where(col("__g_lc") <= candidates)
      .withColumn("ip", dotl(col("__qq"), col("__cq")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col(queryId), col("rank"), col("vec_id").as("neighbor_id"),
        col("ip"))
  }

  /** SEMANTIC-DEDUP PAIRS served FROM the index — dedup as an index
    * maintenance operation instead of a per-run re-train: the
    * capacity-bounded cells ARE SemDeDup's clusters, so candidate
    * pairs are within-cell only and per-cell pair work is structurally
    * ≤ capacity·(capacity−1)/2 (the d12 budget, already paid at build
    * time). Scoring is the index's exact integer cosine. At 100 TB
    * the corpus is already in the index; re-clustering it per dedup
    * run would be the real cost. */
  def semanticDedupPairs(spark: SparkSession, path: String,
      threshold: Double): DataFrame = {
    val cells = readCells(spark, path)
    val a = cells.select(col("cluster"), col("vec_id").as("id_a"),
      col("__cq").as("__qa"), col("__cna").as("__naa"))
    val b = cells.select(col("cluster"), col("vec_id").as("id_b"),
      col("__cq").as("__qb"), col("__cna").as("__nab"))
    a.join(b, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", dotl(col("__qa"), col("__qb")).cast("double") /
        sqrt(col("__naa").cast("double") * col("__nab")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Incremental append: assign `vectors` to cells under each cell's
    * REMAINING capacity — the builder's own deferred-acceptance rounds
    * against the FROZEN centroids, seeded with `capacity − occupancy`
    * from the counts table — and land the codes in the same
    * cell-partitioned layout (dynamic-partition append touches only
    * the cells that gained rows). Fails loudly when the batch cannot
    * fit: the capacity invariant every probe's cost bound rides on is
    * never silently broken (rebuild with more clusters or capacity).
    * Precondition: new vec_ids (append-only log semantics, same as
    * [[TextIndex.append]]). */
  def append(vectors: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = vectors.sparkSession
    val st = baseStats(spark, path)
    val live = root(spark, path)
    val codes = assignUnderRemaining(vectors, idCol, vecCol,
      spark, path, st)
    codes
      .repartition(col("cluster"))
      .write.mode(SaveMode.Append)
      .partitionBy("cluster")
      .parquet(s"$live/cells")
    // one clusters-bounded aggregation of the appended rows serves
    // occupancy AND the new-row count (the old path evaluated the
    // assignment chain a third time just for `count()`); the fold into
    // the BASE occupancy + stats sidecars is a driver-side map-merge
    // (tiny rewrites — the commit). Streaming batch deltas stay in
    // their own staging dirs until compaction folds them.
    val taken = codes.groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val base = DriverParquet.read(spark, s"$live/counts")
      .map(g => (DriverParquet.anyLong(g, "cluster"), DriverParquet.anyLong(g, "n")))
    writeCounts(spark, s"$live/counts",
      (base ++ taken).groupMapReduce(_._1)(_._2)(_ + _).toSeq)
    writeStats(spark, s"$live/stats", st.nVecs + taken.map(_._2).sum,
      st.clusters, st.scale, st.capacity, st.dim, st.foldedThrough,
      st.tombFolded)
  }

  /** TOMBSTONE DELETE: mark `ids` as removed from the index without
    * touching a single cell file — the staged dir + atomic
    * `deleted-<seq>` marker make each delete batch all-or-nothing
    * (the `applied-<id>` discipline). Every read path anti-joins the
    * committed tombstones (a tiny broadcast) until [[compact]] folds
    * them into the next generation — at which point the rows are
    * physically gone, the cell occupancy counts drop, and the freed
    * capacity becomes appendable again. Deleting an absent id is a
    * no-op by construction. At 100 TB this is the only workable
    * delete: O(deleted ids) IO now, physical reclamation amortized
    * into the compaction the index already runs. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    MarkerLayout.commitTomb(spark, path, baseStats(spark, path).tombFolded,
      ids, "vec_id")

  /** EXACTLY-ONCE streaming append of one micro-batch: staging dir +
    * atomic `applied-<id>` marker, replay-safe, run-id guarded
    * ([[MarkerLayout.commitBatch]], as [[TextIndex.appendBatch]]).
    * Remaining capacity is computed against base occupancy PLUS every
    * committed batch's occupancy, so concurrent-batch history still
    * bounds every cell. */
  def appendBatch(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, batchId: Long, runId: String = ""): Unit = {
    val spark = vectors.sparkSession
    val st = baseStats(spark, path)
    MarkerLayout.commitBatch(spark, path, batchId, runId,
        st.foldedThrough) { bdir =>
      val codes = assignUnderRemaining(vectors, idCol, vecCol,
        spark, path, st)
      // one clusters-bounded aggregation serves the emptiness gate, the
      // batch occupancy sidecar (driver-side write), and n_vecs
      val taken = codes.groupBy("cluster").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val newN = taken.map(_._2).sum
      if (newN > 0) {
        codes
          .repartition(col("cluster"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("cluster")
          .parquet(s"$bdir/cells")
        writeCounts(spark, s"$bdir/counts", taken)
      }
      DriverParquet.overwrite(spark, s"$bdir/stats",
        DriverParquet.schema("message bstats { optional int64 n_vecs; }")) {
        gf => Seq(gf.newGroup().append("n_vecs", newN))
      }
    }
  }

  /** STREAMING index maintenance — wire a vector stream into
    * [[appendBatch]], optionally compacting every `compactEvery`
    * batches. Single maintainer per index path. */
  def maintainStream(vectors: DataFrame, idCol: String, vecCol: String,
      path: String, checkpointDir: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    MarkerLayout.maintainStream(vectors, path, checkpointDir, compactEvery,
      appendBatch(_, idCol, vecCol, path, _, _), compact(_, path))

  /** CONTINUOUS ANN serving: [[maintainStream]] plus a STANDING query
    * batch's [[topK]] re-served after every committed micro-batch — the
    * ANN twin of [[TextIndex.maintainAndServeStream]];
    * [[MarkerLayout.servedTopK]] reads the latest refresh. */
  def maintainAndServeStream(vectors: DataFrame, idCol: String,
      vecCol: String, path: String, checkpointDir: String,
      queries: DataFrame, k: Int, nprobe: Int, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MarkerLayout.maintainStream(vectors, path, checkpointDir, compactEvery,
      appendBatch(_, idCol, vecCol, path, _, _), compact(_, path),
      Some(topK(_, path, queries, k, nprobe)))

  /** Fold appended small files, committed streaming batches and
    * tombstones into ONE file per cell, sorted by vec_id, inside a
    * fresh `gen-N` directory, committed by ONE atomic marker create
    * with a grace round for superseded state
    * ([[MarkerLayout.commitGeneration]], as [[TextIndex.compact]]).
    * Occupancy recomputes from what actually landed, so deleted
    * capacity becomes appendable again. */
  def compact(spark: SparkSession, path: String): Unit = {
    val st = baseStats(spark, path)
    val fs = MarkerLayout.fs(spark, path)
    MarkerLayout.commitGeneration(spark, path, st.foldedThrough,
      st.tombFolded, FlatDirs) { fold =>
      val genDir = fold.genDir
      val tombs = MarkerLayout.tombIds(spark, path, st.tombFolded)
      def minusTombs(df: DataFrame): DataFrame = tombs match {
        case Some(t) => df.join(broadcast(t), Seq("vec_id"), "left_anti")
        case None => df
      }
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.global
      // cell ids are the trainer's seed ids — enumerate them from the
      // centroid sidecar, never assume 0..clusters-1
      val jobs = readCentroids(spark, path).map(_._1).flatMap { c =>
        val srcs = (s"${fold.cur}/cells/cluster=$c" +:
            fold.batches.map(id => s"$path/batch-$id/cells/cluster=$c"))
          .filter(d => fs.exists(new Path(d)))
        if (srcs.isEmpty) None
        else Some(Future {
          minusTombs(spark.read.parquet(srcs: _*))
            .coalesce(1)
            .sortWithinPartitions("vec_id")
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$genDir/cells/cluster=$c")
        })
      }
      val centsJob = Future {
        // centroids (and the PQ book when present) are immutable but
        // must ride INSIDE the generation so the marker switches the
        // whole index as one atomic unit
        val cents = readCentroids(spark, path)
        writeCentroids(spark, s"$genDir/centroids", cents)
        if (hasBook(spark, path)) {
          val (book, subspaces) = readBook(spark, path)
          writeBook(spark, s"$genDir/pqbook", book, subspaces)
        }
        if (hasSqRanges(spark, path)) {
          val (mns, mxs) = readSqRanges(spark, path)
          writeSqRanges(spark, s"$genDir/sqranges", mns, mxs)
        }
        if (hasMipsNorm(spark, path))
          writeMipsNorm(spark, s"$genDir/mipsnorm",
            readMipsNorm(spark, path))
      }
      Await.result(Future.sequence(jobs :+ centsJob),
        scala.concurrent.duration.Duration.Inf)
      // counts + stats derive from the FOLDED cells (not the carried
      // counters): after a tombstone fold they are the ground truth —
      // one clusters-bounded aggregation, sidecar written driver-side
      val cnts = (if (fs.exists(new Path(s"$genDir/cells")))
          spark.read.parquet(s"$genDir/cells")
            .groupBy(col("cluster").cast("long").as("cluster"))
            .agg(count(lit(1)).as("n"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        else Seq.empty[(Long, Long)])
      writeCounts(spark, s"$genDir/counts", cnts)
      writeStats(spark, s"$genDir/stats", cnts.map(_._2).sum, st.clusters,
        st.scale, st.capacity, st.dim, fold.foldedThrough, fold.tombFolded)
    }
  }

  // ---- public introspection (specs + planners) -----------------------

  /** Live cells directory (generation-resolved) — what plan specs
    * count opened files under. */
  def cellsDir(spark: SparkSession, path: String): String =
    s"${root(spark, path)}/cells"

  /** EFFECTIVE per-cell occupancy (base + committed-unfolded batches)
    * — clusters rows; the planner's probe-cost input. Driver-side IO
    * (r15): the counts sidecars are clusters-bounded by contract, so
    * the fold is a driver map-merge instead of a Spark job chain. */
  def cellCounts(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    cellCountsDriver(spark, path).toSeq.sorted
      .toDF("cluster", "n")
  }

  /** [[cellCounts]] as a driver-side map. */
  private def cellCountsDriver(spark: SparkSession,
      path: String): Map[Long, Long] = {
    liveDirs(spark, path, "counts").flatMap(d => DriverParquet.read(spark, d))
      .map(g => (DriverParquet.anyLong(g, "cluster"),
        DriverParquet.anyLong(g, "n")))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Write a clusters-bounded occupancy sidecar driver-side — same
    * on-disk columns as the old Spark write (standard parquet). */
  private def writeCounts(spark: SparkSession, dir: String,
      rows: Seq[(Long, Long)]): Unit =
    DriverParquet.overwrite(spark, dir, DriverParquet.schema(
      "message counts { optional int64 cluster; optional int64 n; }")) {
      f => rows.sortBy(_._1).map { case (c, n) =>
        val g = f.newGroup(); g.add("cluster", c); g.add("n", n); g }
    }

  /** (n_vecs, clusters, scale, capacity, dim) including committed
    * unfolded batches. */
  def stats(spark: SparkSession, path: String): (Long, Int, Int, Long, Int) = {
    val st = baseStats(spark, path)
    val extra = MarkerLayout.committedBatches(spark, path)
      .filter(_ > st.foldedThrough)
      .map(id => DriverParquet.read(spark, s"$path/batch-$id/stats")
        .head.getLong("n_vecs", 0))
      .sum
    (st.nVecs + extra, st.clusters, st.scale, st.capacity, st.dim)
  }

  // ---- shared internals ----------------------------------------------

  /** The builder's quantization, shared by every path that must agree
    * bit-for-bit: floor(x * scale) over the double-widened vector. */
  private def quant(c: Column, scale: Int): Column =
    transform(c.cast(ArrayType(DoubleType)),
      x => floor(x * scale).cast("long"))

  /** One 32-bit half of the sign-bit (binary-quantization) word:
    * bit i = 1 iff q[i] > 0, dims `msb..lsb` MSB-first — non-negative
    * by construction, so xor/popcount mirror exactly in SQL. */
  private def bqHalf(q: Column, msb: Int, lsb: Int): Column =
    aggregate(sequence(lit(msb.toLong), lit(lsb.toLong)), lit(0L),
      (acc, i) => acc * 2 +
        when(element_at(q, (i + 1).cast("int")) > 0, lit(1L))
          .otherwise(lit(0L)))

  private def hasBq(spark: SparkSession, path: String): Boolean =
    spark.read.parquet(s"${root(spark, path)}/cells")
      .schema.fieldNames.contains("bqhi")

  private def sqnorm(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0L), _ + _)

  private def dotl(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)

  /** nprobe best cells per query by the exact-integer cosine against
    * the centroid literals (ties to the lowest cell id) — identical
    * probe selection to [[Similarity.ivfBalancedTopK]]. */
  private def probesOf(queries: DataFrame, cents: Seq[(Long, Array[Long])],
      scale: Int, nprobe: Int, queryId: String, queryVec: String): DataFrame =
    queries
      .select(col(queryId), quant(col(queryVec), scale).as("__qq"))
      .withColumn("__qna", sqnorm(col("__qq")))
      .withColumn("__pc", explode(slice(array_sort(array(
        cents.map { case (cid, cv) =>
          val nc = cv.map(x => x * x).sum.toDouble
          struct((-(dotl(col("__qq"), lit(cv)).cast("double") /
            sqrt(col("__qna").cast("double") * lit(nc)))).as("negcos"),
            lit(cid).as("cid"))
        }: _*)), lit(1), lit(nprobe))))
      .select(col(queryId), col("__qq"), col("__qna"),
        col("__pc.cid").as("cluster"))

  /** Residual PQ codebook over a bounded deterministic sample of the
    * assigned corpus: residual = q − its cell's centroid (the
    * quantized-long domain, widened to doubles), per-subspace Lloyd.
    * Bounded driver-side work, the [[Similarity.residualCodebook]]
    * discipline re-expressed over the balanced assignment. */
  private def trainResidualBook(base: DataFrame,
      cents: Seq[(Long, Array[Long])], subspaces: Int, codewords: Int,
      iterations: Int, trainSample: Int): Array[Array[Double]] = {
    val centMap = cents.toMap
    val sample = base.orderBy(col("vec_id")).limit(trainSample)
      .select(col("q"), col("cluster")).collect()
      .map(r => (r.getSeq[Long](0).toArray, r.getLong(1)))
    require(sample.nonEmpty, "trainResidualBook: empty corpus")
    val residuals = sample.map { case (q, cid) =>
      val c = centMap(cid)
      Array.tabulate(q.length)(i => (q(i) - c(i)).toDouble)
    }
    graft.operators.Quantize.pqCodebookKMeansFromSample(residuals,
      codewords, subspaces, iterations)
  }

  /** Attach compact PQ `codes` to assigned code rows: residual
    * against the row's own centroid (broadcast join on the cell id),
    * encoded with the shared book via the compiled PqEncode loop. */
  private def withPqCodes(df: DataFrame, cents: Seq[(Long, Array[Long])],
      book: Array[Array[Double]], subspaces: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = broadcast(cents.map { case (cid, cv) =>
      (cid, cv.map(_.toDouble).toSeq) }.toDF("cluster", "__cent"))
    df.join(centDf, "cluster")
      .withColumn("__res", zip_with(col("q").cast(ArrayType(DoubleType)),
        col("__cent"), (a, b) => a - b))
      .withColumn("codes",
        graft.operators.Quantize.pqCodesColumn(col("__res"), book, subspaces))
      .drop("__cent", "__res")
  }

  private val BookSchema = DriverParquet.schema(
    s"""message pqbook {
       |  optional int32 cw;
       |  ${DriverParquet.listField("c", "double")}
       |  optional int32 subspaces;
       |}""".stripMargin)

  private def writeBook(spark: SparkSession, dir: String,
      book: Array[Array[Double]], subspaces: Int): Unit =
    DriverParquet.overwrite(spark, dir, BookSchema) { gf =>
      book.zipWithIndex.toSeq.map { case (cw, i) =>
        val g = gf.newGroup()
        g.add("cw", i)
        DriverParquet.addDoubles(g, "c", cw)
        g.add("subspaces", subspaces)
        g
      }
    }

  /** The shared residual book (codewords × dim, bounded) and its
    * subspace count. Fails loudly when the index was built without a
    * PQ tier. */
  def readBook(spark: SparkSession, path: String): (Array[Array[Double]], Int) = {
    val dir = s"${root(spark, path)}/pqbook"
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(dir)),
      s"no PQ codebook under $path — build(pqSubspaces > 0) first")
    val rows = DriverParquet.read(spark, dir)
      .map(g => (g.getInteger("cw", 0), DriverParquet.getDoubles(g, "c"),
        g.getInteger("subspaces", 0)))
      .sortBy(_._1)
    (rows.map(_._2).toArray, rows.head._3)
  }

  private def hasBook(spark: SparkSession, path: String): Boolean = {
    val dir = new Path(s"${root(spark, path)}/pqbook")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
  }

  private final case class IdxStats(nVecs: Long, clusters: Int, scale: Int,
      capacity: Long, dim: Int, foldedThrough: Long, tombFolded: Long)

  private val StatsSchema = DriverParquet.schema(
    """message stats {
      |  optional int64 n_vecs;
      |  optional int32 clusters;
      |  optional int32 scale;
      |  optional int64 capacity;
      |  optional int32 dim;
      |  optional int64 folded_through;
      |  optional int64 tomb_folded;
      |}""".stripMargin)

  private def baseStats(spark: SparkSession, path: String): IdxStats = {
    val g = DriverParquet.read(spark,
      s"${root(spark, path)}/stats").head
    // pre-delete layouts lack the tombstone watermark — read as -1
    val tf = if (DriverParquet.has(g, "tomb_folded"))
      g.getLong("tomb_folded", 0) else -1L
    IdxStats(g.getLong("n_vecs", 0), g.getInteger("clusters", 0),
      g.getInteger("scale", 0), g.getLong("capacity", 0),
      g.getInteger("dim", 0), g.getLong("folded_through", 0), tf)
  }

  private def writeStats(spark: SparkSession, dir: String, n: Long,
      clusters: Int, scale: Int, capacity: Long, dim: Int,
      foldedThrough: Long, tombFolded: Long = -1L): Unit =
    DriverParquet.overwrite(spark, dir, StatsSchema) { gf =>
      val g = gf.newGroup()
      g.add("n_vecs", n); g.add("clusters", clusters); g.add("scale", scale)
      g.add("capacity", capacity); g.add("dim", dim)
      g.add("folded_through", foldedThrough); g.add("tomb_folded", tombFolded)
      Seq(g)
    }

  private val CentroidSchema = DriverParquet.schema(
    s"""message centroids {
       |  optional int64 cid;
       |  ${DriverParquet.listField("c", "int64")}
       |}""".stripMargin)

  private def writeCentroids(spark: SparkSession, dir: String,
      cents: Seq[(Long, Array[Long])]): Unit =
    DriverParquet.overwrite(spark, dir, CentroidSchema) { gf =>
      cents.map { case (cid, cv) =>
        val g = gf.newGroup()
        g.add("cid", cid)
        DriverParquet.addLongs(g, "c", cv)
        g
      }
    }

  /** The coarse quantizer — `clusters` rows, a bounded driver-side
    * value by design (same cardinality contract as the trainer's own
    * collected centroids). */
  def readCentroids(spark: SparkSession, path: String): Seq[(Long, Array[Long])] =
    DriverParquet.read(spark, s"${root(spark, path)}/centroids")
      .map(g => (g.getLong("cid", 0), DriverParquet.getLongs(g, "c")))
      .sortBy(_._1)

  /** `sub` of the live layout and of each unfolded committed batch. */
  private def liveDirs(spark: SparkSession, path: String,
      sub: String): Seq[String] =
    s"${root(spark, path)}/$sub" +: MarkerLayout.unfoldedBatchDirs(spark,
      path, baseStats(spark, path).foldedThrough, sub)

  /** Columns the index owns in cell files; anything else is caller
    * metadata carried for filtered search. */
  private val ReservedCellCols =
    Set("vec_id", "q", "na", "codes", "sq", "aug", "cluster",
      "bqhi", "bqlo")

  /** The quantized norm-augmentation dimension against a FROZEN M²:
    * floor(√(max(M² − na, 0))). The max(,0) guard is the frozen-
    * augmentation append contract — a post-build vector whose norm
    * exceeds the trained M² gets aug 0 (clamped to the sphere), its
    * staging slightly mis-normalized, its EXACT re-rank unaffected. */
  private def augCol(na: Column, qm2: Long): Column =
    floor(sqrt(greatest(lit(qm2) - na, lit(0L)).cast("double"))).cast("long")

  private val MipsSchema =
    DriverParquet.schema("message mipsnorm { optional int64 qm2; }")

  private def writeMipsNorm(spark: SparkSession, dir: String,
      qm2: Long): Unit =
    DriverParquet.overwrite(spark, dir, MipsSchema) { gf =>
      Seq(gf.newGroup().append("qm2", qm2))
    }

  /** The frozen max quantized squared norm M² of the MIPS tier. */
  def readMipsNorm(spark: SparkSession, path: String): Long = {
    val dir = s"${root(spark, path)}/mipsnorm"
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(dir)),
      s"no MIPS norm under $path — build(mipsTier = true) first")
    DriverParquet.read(spark, dir).head.getLong("qm2", 0)
  }

  private def hasMipsNorm(spark: SparkSession, path: String): Boolean = {
    val dir = new Path(s"${root(spark, path)}/mipsnorm")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
  }

  private val SqSchema = DriverParquet.schema(
    s"""message sqranges {
       |  ${DriverParquet.listField("mns", "double")}
       |  ${DriverParquet.listField("mxs", "double")}
       |}""".stripMargin)

  private def writeSqRanges(spark: SparkSession, dir: String,
      mns: Array[Double], mxs: Array[Double]): Unit =
    DriverParquet.overwrite(spark, dir, SqSchema) { gf =>
      val g = gf.newGroup()
      DriverParquet.addDoubles(g, "mns", mns)
      DriverParquet.addDoubles(g, "mxs", mxs)
      Seq(g)
    }

  /** The frozen per-dim SQ ranges — appends and every SQ-tier read
    * must encode/decode against exactly these. */
  def readSqRanges(spark: SparkSession, path: String)
      : (Array[Double], Array[Double]) = {
    val dir = s"${root(spark, path)}/sqranges"
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(dir)),
      s"no SQ ranges under $path — build(sqTier = true) first")
    val g = DriverParquet.read(spark, dir).head
    (DriverParquet.getDoubles(g, "mns"), DriverParquet.getDoubles(g, "mxs"))
  }

  private def hasSqRanges(spark: SparkSession, path: String): Boolean = {
    val dir = new Path(s"${root(spark, path)}/sqranges")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
  }

  /** Caller metadata columns present in this index's cells. */
  def metaColsOf(spark: SparkSession, path: String): Seq[String] =
    spark.read.parquet(s"${root(spark, path)}/cells").schema.fieldNames
      .toSeq.filterNot(ReservedCellCols)

  /** The live code table: base cells + committed-unfolded batch cells,
    * cluster partition column normalized to long; `metaCols` ride
    * along under their own names when requested. */
  private def readCells(spark: SparkSession, path: String,
      metaCols: Seq[String] = Nil): DataFrame =
    dropTombstoned(spark, path,
      liveDirs(spark, path, "cells")
        .map { d =>
          spark.read.parquet(d)
            .select(col("vec_id") +: col("q").as("__cq") +:
              col("na").as("__cna") +:
              col("cluster").cast("long").as("cluster") +:
              metaCols.map(col): _*)
        }
        .reduce(_ unionByName _))

  /** Anti-join the committed-unfolded tombstones (tiny broadcast) —
    * every serving path sees deletes immediately, before any
    * compaction has rewritten a cell. */
  private def dropTombstoned(spark: SparkSession, path: String,
      cells: DataFrame): DataFrame =
    MarkerLayout.tombIds(spark, path, baseStats(spark, path).tombFolded) match {
      case Some(t) => cells.join(broadcast(t), Seq("vec_id"), "left_anti")
      case None => cells
    }

  /** Projected live cell read — `cols` only (plus vec_id/cluster):
    * the codes-only serving scan rides parquet's columnar layout, so
    * unselected wide columns cost zero IO. */
  private def readCellsCols(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame =
    dropTombstoned(spark, path,
      liveDirs(spark, path, "cells")
        .map { d =>
          spark.read.parquet(d)
            .select(col("vec_id") +: cols.map(col) :+
              col("cluster").cast("long").as("cluster"): _*)
        }
        .reduce(_ unionByName _))

  /** Quantize + assign a new-vector batch under each cell's remaining
    * capacity; returns (codes rows ready to land, per-cell counts of
    * the batch). */
  private def assignUnderRemaining(vectors: DataFrame, idCol: String,
      vecCol: String, spark: SparkSession, path: String, st: IdxStats)
      : DataFrame = {
    val cents = readCentroids(spark, path)
    val occupancy = cellCountsDriver(spark, path)
    val remaining = cents.map { case (cid, _) =>
      cid -> (st.capacity - occupancy.getOrElse(cid, 0L)) }.toMap
    val e = vectors.select(col(idCol).cast("long").as("vec_id"),
      quant(col(vecCol), st.scale).as("q"))
    val assigned = Similarity.balancedAssign(e, cents, remaining,
      maxRounds = 8)
    // an index built with metaCols requires every append to carry
    // them — a metadata-filtered query must never see a null hole
    val metas = metaColsOf(spark, path)
    val missing = metas.filterNot(vectors.columns.contains)
    require(missing.isEmpty,
      s"index at $path carries metadata columns $metas; append batch " +
        s"lacks $missing")
    val e2 =
      if (metas.isEmpty) e
      else e.join(vectors.select(col(idCol).cast("long").as("vec_id") +:
        metas.map(col): _*), "vec_id")
    val plain = e2
      .withColumn("na", sqnorm(col("q")))
      .join(assigned.select(col("vec_id"), col("cid").as("cluster")),
        "vec_id")
    // a PQ-tiered index encodes appends with the FROZEN shared book so
    // appended rows carry the same columns (and the same codes the
    // builder would have produced) as the base cells
    val withPq =
      if (!hasBook(spark, path)) plain
      else {
        val (book, subspaces) = readBook(spark, path)
        withPqCodes(plain, cents, book, subspaces)
      }
    // likewise the SQ tier: frozen ranges (values outside the trained
    // range clamp to the edge bins — the standard SQ append contract)
    val withSq =
      if (!hasSqRanges(spark, path)) withPq
      else {
        val (mns, mxs) = readSqRanges(spark, path)
        withPq.join(
          vectors.select(col(idCol).cast("long").as("vec_id"),
            graft.operators.Quantize.codesColumn(col(vecCol), mns, mxs)
              .as("sq")),
          "vec_id")
      }
    // MIPS tier: augment appended rows against the FROZEN M² — never
    // re-derived from the batch, so existing rows' staging geometry
    // is untouched by any append
    val withMips2 =
      if (!hasMipsNorm(spark, path)) withSq
      else withSq.withColumn("aug",
        augCol(col("na"), readMipsNorm(spark, path)))
    // BQ tier: bits derive from q alone — appends carry them without
    // any frozen state
    if (!hasBq(spark, path)) withMips2
    else withMips2.withColumn("bqhi", bqHalf(col("q"), 0, 31))
      .withColumn("bqlo", bqHalf(col("q"), 32, 63))
  }

  /** Replace `dst` with `tmp` (local/HDFS rename path — the counts
    * table is a tiny side file; on an object store this would be a
    * marker-committed pointer like the generations). */
  private def replaceDir(spark: SparkSession, tmp: String,
      dst: String): Unit = {
    val fs = new Path(dst).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dst), true)
    require(fs.rename(new Path(tmp), new Path(dst)),
      s"rename $tmp -> $dst failed")
  }
}
