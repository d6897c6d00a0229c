package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import MarkerLayout.root

/** MATERIALIZED inverted index: positional postings written as a
  * term-BUCKETED parquet layout, plus doc-length and corpus-stats side
  * tables — the index-build batch job a retrieval system runs once so
  * queries never re-derive postings from raw text.
  *
  * The layout is the point: postings land under
  * `bucket=pmod(xxhash64(term), buckets)` partitions, so a query
  * filters to its own terms' buckets and PARTITION PRUNING drops every
  * other directory before any file opens — at 100 TB the per-query
  * read is |query terms| buckets of postings, not the corpus. Doc
  * lengths aggregate once at build; corpus stats (N, total tokens, the
  * bucket count) are one bounded row. Scoring then matches
  * [[graft.operators.TextRank.bm25TopK]] exactly — same tf/df/dl
  * arithmetic, same rank-only output — so the index path shares the
  * ad-hoc path's DuckDB oracle verbatim.
  *
  * Positions ride in the layout, so the whole retrieval trio serves
  * from it: bag-of-words [[bm25TopK]], exact-phrase [[bm25PhraseTopK]],
  * unordered-window [[bm25ProximityTopK]], ordered-slop [[bm25SlopTopK]]
  * — each the same semantics as its `TextRank` ad-hoc twin, with the
  * read path swapped for the pruned bucketed scan. [[append]] maintains
  * the index incrementally and [[compact]] folds the small files an
  * append stream accumulates back into one sorted file per bucket,
  * committed by an atomic snapshot-pointer marker (no renames — the
  * object-store-safe layout-swap discipline of [[MarkerLayout]]).
  */
object TextIndex {
  /** The flat layout [[build]] writes at the index root. */
  private val FlatDirs = Seq("postings", "doclen", "stats")

  /** Build the index at `path`: bucketed positional postings
    * (doc_id, pos, term), doc lengths, one stats row. Positions ride
    * along so phrase/proximity queries can run from the same index. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
      buckets: Int = 64): Unit = {
    require(buckets >= 1)
    MarkerLayout.reset(docs.sparkSession, path, FlatDirs)
    val toks = tokens(docs, idCol, textCol)
    toks
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets)))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(s"$path/postings")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    dl.write.mode(SaveMode.Overwrite).parquet(s"$path/doclen")
    val st = dl.agg(count(lit(1)),
      coalesce(sum(col("dl")), lit(0L))).head
    writeStatsRow(docs.sparkSession, s"$path/stats", st.getLong(0),
      st.getLong(1), buckets, -1L, -1L)
  }

  /** INCREMENTAL index maintenance: append an ingest batch's postings
    * into the same bucketed layout (dynamic-partition append touches
    * only the buckets the new terms hash to), append its doc lengths,
    * and fold the stats row — no rebuild of existing postings.
    * Precondition: `docs` are NEW documents (ids disjoint from the
    * indexed set); a re-offered id would double its postings, same as
    * any append-only log. */
  def append(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val base = baseStats(spark, path)
    val live = root(spark, path)
    val toks = tokens(docs, idCol, textCol)
    toks
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(base.buckets)))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Append)
      .partitionBy("bucket")
      .parquet(s"$live/postings")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    dl.write.mode(SaveMode.Append).parquet(s"$live/doclen")
    val delta = dl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head
    // one-row rewrite (the row is tiny; rewriting it is the whole
    // "commit"); folds into the BASE row only — streaming batch deltas
    // stay in their own side rows until compaction folds them
    writeStatsRow(spark, s"$live/stats", base.nDocs + delta.getLong(0),
      base.totTok + delta.getLong(1), base.buckets, base.foldedThrough,
      base.tombFolded)
  }

  private val StatsSchema = DriverParquet.schema(
    """message stats {
      |  optional int64 n_docs;
      |  optional int64 total_tokens;
      |  optional int32 buckets;
      |  optional int64 folded_through;
      |  optional int64 tomb_folded;
      |}""".stripMargin)

  /** Driver-side one-row stats commit — the row is a handful of
    * scalars; a Spark write job per rewrite was pure overhead. */
  private def writeStatsRow(spark: SparkSession, dir: String, nDocs: Long,
      totTok: Long, buckets: Int, foldedThrough: Long,
      tombFolded: Long): Unit =
    DriverParquet.overwrite(spark, dir, StatsSchema) { gf =>
      val g = gf.newGroup()
      g.add("n_docs", nDocs); g.add("total_tokens", totTok)
      g.add("buckets", buckets); g.add("folded_through", foldedThrough)
      g.add("tomb_folded", tombFolded)
      Seq(g)
    }

  /** Fold the small files an [[append]] stream accumulates back into
    * ONE file per bucket, sorted by (term, doc_id, pos) — so term
    * min/max row-group stats make the in-bucket `term IN (...)`
    * residual skippable, on top of the directory-level pruning.
    * Doc lengths compact to one file the same way. Committed streaming
    * batches fold in and tombstoned docs drop out PHYSICALLY; the
    * `folded_through` / `tomb_folded` watermarks advance past them.
    *
    * Bucket rewrites are independent single-task jobs submitted
    * CONCURRENTLY (the f3 compaction discipline — wall-clock is the
    * largest bucket, not the bucket count).
    *
    * The swap is SNAPSHOT-POINTER committed, zero renames: the whole
    * compacted layout lands in a fresh `gen-N` directory, committed by
    * ONE atomic `commit-N` create, with superseded state swept one
    * round later ([[MarkerLayout.commitGeneration]]). Readers see the
    * old index until the marker exists and the new one after — never
    * a half-state. */
  def compact(spark: SparkSession, path: String): Unit = {
    val base = baseStats(spark, path)
    val fs = MarkerLayout.fs(spark, path)
    MarkerLayout.commitGeneration(spark, path, base.foldedThrough,
      base.tombFolded, FlatDirs) { fold =>
      val tombs = MarkerLayout.tombIds(spark, path, base.tombFolded)
      def minusTombs(df: DataFrame): DataFrame = tombs match {
        case Some(t) => df.join(broadcast(t), Seq("doc_id"), "left_anti")
        case None => df
      }
      def sources(sub: String): Seq[String] =
        (s"${fold.cur}/$sub" +: fold.batches.map(id => s"$path/batch-$id/$sub"))
          .filter(d => fs.exists(new Path(d)))
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.global
      val jobs = (0 until base.buckets).flatMap { b =>
        // every source holding this bucket: the live layout + each
        // unfolded batch staging dir — one multi-path read, one rewrite
        val srcs = sources(s"postings/bucket=$b")
        if (srcs.isEmpty) None
        else Some(Future {
          // reading bucket dirs directly drops the partition column;
          // writing back under the same dir name restores it on discovery
          minusTombs(spark.read.parquet(srcs: _*))
            .coalesce(1)
            .sortWithinPartitions("term", "doc_id", "pos")
            .write.mode(SaveMode.Overwrite)
            .parquet(s"${fold.genDir}/postings/bucket=$b")
        })
      }
      val dlJob = Future {
        minusTombs(spark.read.parquet(sources("doclen"): _*))
          .coalesce(1).sortWithinPartitions("doc_id")
          .write.mode(SaveMode.Overwrite).parquet(s"${fold.genDir}/doclen")
      }
      Await.result(Future.sequence(jobs :+ dlJob),
        scala.concurrent.duration.Duration.Inf)
      // after a tombstone fold the folded doclen IS the ground truth
      val st = spark.read.parquet(s"${fold.genDir}/doclen")
        .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head
      writeStatsRow(spark, s"${fold.genDir}/stats", st.getLong(0),
        st.getLong(1), base.buckets, fold.foldedThrough, fold.tombFolded)
    }
  }

  /** Live postings directory (generation-resolved) — the path specs
    * count files under. */
  def postingsDir(spark: SparkSession, path: String): String =
    s"${root(spark, path)}/postings"

  /** EXACTLY-ONCE streaming ingest of one micro-batch, the unit
    * [[maintainStream]] drives: the batch's postings/doclen/stats land
    * in their own `batch-<id>` staging dir, committed by one atomic
    * `applied-<id>` marker create; a replay of a committed batch is a
    * no-op, and a changed `runId` fails loudly once the index has
    * stream history ([[MarkerLayout.commitBatch]]). Queries read
    * committed batches immediately (union'd with the base layout);
    * [[compact]] folds them away and advances `folded_through` so
    * nothing is ever double-counted. */
  def appendBatch(docs: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long, runId: String = ""): Unit = {
    val spark = docs.sparkSession
    val base = baseStats(spark, path)
    MarkerLayout.commitBatch(spark, path, batchId, runId,
        base.foldedThrough) { bdir =>
      val toks = tokens(docs, idCol, textCol)
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val delta = dl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head
      if (delta.getLong(0) > 0) {
        toks
          .withColumn("bucket", pmod(xxhash64(col("term")), lit(base.buckets)))
          .repartition(col("bucket"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("bucket")
          .parquet(s"$bdir/postings")
        dl.write.mode(SaveMode.Overwrite).parquet(s"$bdir/doclen")
      }
      DriverParquet.overwrite(spark, s"$bdir/stats", DriverParquet.schema(
        "message bstats { optional int64 n_docs; " +
          "optional int64 total_tokens; }")) { gf =>
        Seq(gf.newGroup().append("n_docs", delta.getLong(0))
          .append("total_tokens", delta.getLong(1)))
      }
    }
  }

  /** STREAMING index maintenance: wire a document stream into
    * [[appendBatch]], optionally compacting every `compactEvery`
    * batches so the staging-dir union stays bounded. The retrieval
    * trio keeps serving between micro-batches — each query sees every
    * committed batch and never a partial one. */
  def maintainStream(docs: DataFrame, idCol: String, textCol: String,
      path: String, checkpointDir: String,
      compactEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    MarkerLayout.maintainStream(docs, path, checkpointDir, compactEvery,
      appendBatch(_, idCol, textCol, path, _, _), compact(_, path))

  /** CONTINUOUS top-k retrieval: [[maintainStream]] plus a STANDING
    * query set's [[bm25TopK]] re-served after every committed
    * micro-batch (the streaming search topology: new docs arrive,
    * standing results refresh); [[MarkerLayout.servedTopK]] reads the
    * latest refresh. */
  def maintainAndServeStream(docs: DataFrame, idCol: String, textCol: String,
      path: String, checkpointDir: String, queries: Seq[(Int, Seq[String])],
      k: Int, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MarkerLayout.maintainStream(docs, path, checkpointDir, compactEvery,
      appendBatch(_, idCol, textCol, path, _, _), compact(_, path),
      Some(bm25TopK(_, path, queries, k)))

  /** Tokens (doc_id, pos, term) of `docs`, as every write indexes them. */
  private def tokens(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(trim(lower(col(textCol))), "\\s+"))
          .as(Seq("pos", "term")))
      .filter(col("term") =!= "")

  /** BM25 top-k over the MATERIALIZED index — same semantics and
    * output as `TextRank.bm25TopK`, but the postings scan opens only
    * the query terms' buckets (partition pruning; the bucket predicate
    * is derived from the same hash the build used, read back from the
    * stats row so a mismatched bucket count cannot silently read
    * nothing). */
  def bm25TopK(spark: SparkSession, path: String,
      queries: Seq[(Int, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty))
    val (nDocs, totTok, buckets) = loadStats(spark, path)
    require(nDocs > 0, "empty index")
    val avgdl = totTok.toDouble / nDocs
    val postings = prunedPostings(spark, path, buckets,
      queries.flatMap(_._2).distinct)
    val qt = queries.flatMap { case (qid, ts) => ts.map(tm => (qid, tm)) }
      .toDF("query_id", "term")
    val tf = postings.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = doclenDf(spark, path)
    val scored = tf
      .join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .join(broadcast(qt), "term")
      .withColumn("s",
        log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
    rankTopK(scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum("s").as("score")), k)
  }

  /** PHRASE-constrained BM25 served FROM the index — the same anchor
    * intersection as `TextRank.bm25PhraseTopK` (each posting votes for
    * `pos - slot`; an anchor holding all slots is one contiguous
    * occurrence), but postings come from the bucketed layout with
    * partition pruning instead of a raw-text re-derive. */
  def bm25PhraseTopK(spark: SparkSession, path: String,
      phrases: Seq[(Int, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    require(phrases.nonEmpty && phrases.forall(_._2.nonEmpty))
    val (nDocs, totTok, buckets) = loadStats(spark, path)
    require(nDocs > 0, "empty index")
    val pos = prunedPostings(spark, path, buckets,
      phrases.flatMap(_._2).distinct)
    val pt = phrases.flatMap { case (qid, ts) =>
        ts.zipWithIndex.map { case (tm, off) => (qid, off, tm) } }
      .toDF("query_id", "off", "term")
    val qlen = phrases.map { case (qid, ts) => (qid, ts.length) }
      .toDF("query_id", "qlen")
    val occs = pos.join(broadcast(pt), "term")
      .groupBy(col("query_id"), col("doc_id"),
        (col("pos") - col("off")).as("anchor"))
      .agg(countDistinct(col("off")).as("nslots"))
      .join(broadcast(qlen), "query_id")
      .where(col("nslots") === col("qlen"))
    val pf = occs.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("pf"))
    scorePf(spark, path, pf, nDocs, totTok, k, k1, b)
  }

  /** PROXIMITY-constrained BM25 FROM the index — `TextRank
    * .bm25ProximityTopK`'s banded self-join (all query terms within a
    * `window`-token unordered span; tf = qualifying anchors) over the
    * pruned bucketed postings. */
  def bm25ProximityTopK(spark: SparkSession, path: String,
      queries: Seq[(Int, Seq[String])], window: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    require(window >= 1 && queries.nonEmpty && queries.forall(_._2.nonEmpty))
    val (nDocs, totTok, buckets) = loadStats(spark, path)
    require(nDocs > 0, "empty index")
    val pos = prunedPostings(spark, path, buckets,
      queries.flatMap(_._2).distinct)
    val qt = queries.flatMap { case (qid, ts) => ts.distinct.map((qid, _)) }
      .toDF("query_id", "term")
    val qlen = queries.map { case (qid, ts) => (qid, ts.distinct.length) }
      .toDF("query_id", "qlen")
    val an = pos.join(broadcast(qt), "term")
      .select(col("query_id"), col("doc_id"), col("pos"), col("term"))
    val a = an.select(col("query_id"), col("doc_id"), col("pos").as("__pa"))
    val bb = an.select(col("query_id"), col("doc_id"), col("pos").as("__pb"),
      col("term").as("__tb"))
    val occs = a.join(bb, Seq("query_id", "doc_id"))
      .where(col("__pb") >= col("__pa") && col("__pb") < col("__pa") + window)
      .groupBy(col("query_id"), col("doc_id"), col("__pa"))
      .agg(countDistinct(col("__tb")).as("nterm"))
      .join(broadcast(qlen), "query_id")
      .where(col("nterm") === col("qlen"))
    val pf = occs.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("pf"))
    scorePf(spark, path, pf, nDocs, totTok, k, k1, b)
  }

  /** ORDERED slop BM25 FROM the index — `TextRank.bm25SlopTopK`'s
    * per-query chain of doc-keyed equi-joins (terms in order, strictly
    * increasing positions, span < `window`; tf = distinct chain
    * starts) over the pruned bucketed postings. */
  def bm25SlopTopK(spark: SparkSession, path: String,
      queries: Seq[(Int, Seq[String])], window: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(window >= 1 && queries.nonEmpty && queries.forall(_._2.nonEmpty))
    val (nDocs, totTok, buckets) = loadStats(spark, path)
    require(nDocs > 0, "empty index")
    val pos = prunedPostings(spark, path, buckets,
      queries.flatMap(_._2).distinct)
    val perQuery: Seq[DataFrame] = queries.map { case (qid, terms) =>
      var chain = pos.filter(col("term") === terms.head)
        .select(col("doc_id"), col("pos").as("__p0"), col("pos").as("__pl"))
      terms.drop(1).foreach { t =>
        val nxt = pos.filter(col("term") === t)
          .select(col("doc_id").as("__nid"), col("pos").as("__pn"))
        chain = chain.join(nxt,
            col("doc_id") === col("__nid") && col("__pn") > col("__pl") &&
              col("__pn") - col("__p0") < window)
          .select(col("doc_id"), col("__p0"), col("__pn").as("__pl"))
      }
      chain.groupBy(col("doc_id"))
        .agg(countDistinct(col("__p0")).as("pf"))
        .withColumn("query_id", lit(qid))
    }
    scorePf(spark, path, perQuery.reduce(_ unionByName _),
      nDocs, totTok, k, k1, b)
  }

  // ---- shared internals ----------------------------------------------

  private final case class BaseStats(nDocs: Long, totTok: Long,
      buckets: Int, foldedThrough: Long, tombFolded: Long)

  /** The live BASE stats row (generation-resolved), excluding unfolded
    * streaming batches. `folded_through` / `tomb_folded` tolerate
    * pre-column layouts. */
  private def baseStats(spark: SparkSession, path: String): BaseStats = {
    val g = DriverParquet.read(spark, s"${root(spark, path)}/stats").head
    def longOr(name: String, dflt: Long) =
      if (DriverParquet.has(g, name)) g.getLong(name, 0) else dflt
    BaseStats(g.getLong("n_docs", 0), g.getLong("total_tokens", 0),
      g.getInteger("buckets", 0), longOr("folded_through", -1L),
      longOr("tomb_folded", -1L))
  }

  /** TOMBSTONE DELETE: drop documents from the index in O(ids) IO —
    * a staged `tomb-<seq>/ids` dir committed by one atomic
    * `deleted-<seq>` marker. Every read path anti-joins the committed
    * tombstones immediately, and scoring STAYS EXACT: the effective
    * (n_docs, total_tokens) subtract the tombstoned docs'
    * contributions (their lengths come from the doclen table), so
    * idf and avgdl equal a fresh index built without the docs —
    * delete-then-query == rebuild, spec-asserted. The next
    * [[compact]] applies tombstones physically and advances the
    * watermark; folded tombstone dirs sweep one grace round later. */
  def delete(spark: SparkSession, path: String, docIds: DataFrame): Unit =
    MarkerLayout.commitTomb(spark, path, baseStats(spark, path).tombFolded,
      docIds, "doc_id")

  /** Sum of the per-batch stats deltas for the given batch ids. */
  private def batchStatsDeltas(spark: SparkSession, path: String,
      ids: Seq[Long]): (Long, Long) =
    ids.foldLeft((0L, 0L)) { case ((n, t), id) =>
      val g = DriverParquet.read(spark, s"$path/batch-$id/stats").head
      (n + g.getLong("n_docs", 0), t + g.getLong("total_tokens", 0))
    }

  /** EFFECTIVE stats: the base row plus every committed-but-unfolded
    * streaming batch's delta, MINUS the tombstoned docs' contributions
    * (count + summed lengths from the doclen table) — so idf/avgdl
    * after a delete equal a fresh index built without those docs. */
  private def loadStats(spark: SparkSession, path: String): (Long, Long, Int) = {
    val base = baseStats(spark, path)
    val ids = MarkerLayout.committedBatches(spark, path)
      .filter(_ > base.foldedThrough)
    val (n, t) = batchStatsDeltas(spark, path, ids)
    val (dn, dt) = MarkerLayout.tombIds(spark, path, base.tombFolded) match {
      case Some(tm) =>
        val r = doclenRaw(spark, path)
          .join(broadcast(tm), "doc_id")
          .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head
        (r.getLong(0), r.getLong(1))
      case None => (0L, 0L)
    }
    (base.nDocs + n - dn, base.totTok + t - dt, base.buckets)
  }

  /** `sub` of the live layout and of each unfolded committed batch. */
  private def liveDirs(spark: SparkSession, path: String,
      sub: String): Seq[String] =
    s"${root(spark, path)}/$sub" +:
      MarkerLayout.unfoldedBatchDirs(spark, path,
        baseStats(spark, path).foldedThrough, sub)

  /** Base + unfolded batch doc lengths, BEFORE tombstone filtering —
    * what the stats adjustment reads the deleted docs' lengths from. */
  private def doclenRaw(spark: SparkSession, path: String): DataFrame =
    liveDirs(spark, path, "doclen").map(spark.read.parquet(_))
      .reduce(_ unionByName _)

  /** The live doc-length table: raw minus committed tombstones. */
  private def doclenDf(spark: SparkSession, path: String): DataFrame =
    dropTombstoned(spark, path, doclenRaw(spark, path))

  /** Anti-join the committed-unfolded tombstones (tiny broadcast). */
  private def dropTombstoned(spark: SparkSession, path: String,
      df: DataFrame): DataFrame =
    MarkerLayout.tombIds(spark, path, baseStats(spark, path).tombFolded) match {
      case Some(t) => df.join(broadcast(t), Seq("doc_id"), "left_anti")
      case None => df
    }

  /** The pruned read every indexed query starts from: bucket values
    * computed by the same xxhash64 expression the build column used
    * (one bounded local job), pushed as a partition filter, with the
    * exact term membership as the in-bucket residual. */
  private def prunedPostings(spark: SparkSession, path: String,
      buckets: Int, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val termBuckets = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(buckets)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    // base layout + committed-but-unfolded streaming batches, each a
    // bucketed dir pruned by the same partition filter; compaction
    // bounds how many batch dirs this union ever spans
    dropTombstoned(spark, path,
      liveDirs(spark, path, "postings")
        .map { d =>
          spark.read.parquet(d)
            .where(col("bucket").isin(termBuckets: _*) &&
              col("term").isInCollection(terms))
            .select(col("doc_id"), col("pos"), col("term"))
        }
        .reduce(_ unionByName _))
  }

  /** Occurrence-frequency scoring shared by the positional variants:
    * df = qualifying docs per query, dl/avgdl from the side tables,
    * identical arithmetic to the `TextRank` ad-hoc twins. */
  private def scorePf(spark: SparkSession, path: String, pf: DataFrame,
      nDocs: Long, totTok: Long, k: Int, k1: Double, b: Double): DataFrame = {
    val avgdl = totTok.toDouble / nDocs
    val dfq = pf.groupBy("query_id").agg(count(lit(1)).as("df"))
    val dl = doclenDf(spark, path)
    rankTopK(pf
      .join(broadcast(dfq), "query_id")
      .join(dl, "doc_id")
      .withColumn("score",
        log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("pf") * lit(k1 + 1)) /
          (col("pf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))), k)
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"))
  }
}
