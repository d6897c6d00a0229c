package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import MarkerLayout.root

/** MATERIALIZED n-gram span postings — substring-level dedup served as
  * an INDEX MAINTENANCE operation, the text-side twin of
  * [[VectorIndex.semanticDedupPairs]] (d16) and the indexed
  * counterpart of the ad-hoc span analysis
  * [[graft.operators.Dedup.substringDupStats]] (d13).
  *
  * The expensive part of span-level dedup is deriving the grams:
  * tokenize + window + md5 over EVERY corpus token (reference context:
  * the repeated-passage analysis of Lee et al., "Deduplicating
  * Training Data Makes Language Models Better"). The ad-hoc operator
  * re-pays that on every run; at 100 TB the corpus should be shingled
  * ONCE into a materialized layout and every later dedup run, overlap
  * probe, or decontamination sweep served from the postings.
  *
  * Layout (same discipline as [[TextIndex]]):
  *   `grams/bucket=pmod(xxhash64(h), buckets)/` —
  *     (h, doc_id, pos, ntok) gram rows, hash-bucketed so any
  *     gram-keyed serving query is an equi-join landing inside one
  *     bucket, and a PROBE with known grams partition-prunes to its
  *     own buckets ([[overlapProbe]] — the decontam shape: the scan
  *     opens |probe-gram buckets| directories, not the corpus).
  *   `stats/` — one bounded row (n, buckets) freezing the shingle
  *     width and bucket count appends must honor.
  *
  * [[dupStats]] reproduces d13's output byte-for-byte from the layout
  * (same aggregation, join-back, and coverage arithmetic — the build
  * changes the READ PATH, never the answer, so the d13 oracle is
  * shared verbatim). [[append]] shingles only the new documents with
  * the FROZEN width into the same buckets (dynamic-partition append),
  * after which [[dupStats]] equals a full rebuild — spec-asserted.
  *
  * MAINTENANCE SYMMETRY with [[TextIndex]]/[[VectorIndex]]: a
  * takedown must reach the gram layout too, or span dedup keeps
  * serving deleted documents. [[delete]] tombstones doc_ids in
  * O(ids) IO (staged dir + atomic `deleted-<seq>` marker); every
  * read path anti-joins the committed-unfolded tombstones (a tiny
  * broadcast) immediately, so delete == rebuild from the moment the
  * marker lands (the d19 oracle). [[compact]] folds the tombstones
  * physically into a `gen-<g>` generation committed by ONE marker
  * create ([[MarkerLayout]]); superseded generations AND the
  * tombstones a PREVIOUS generation already folded are swept one
  * round later — the grace
  * discipline an in-flight reader of the old snapshot needs (its
  * root still resolves, and the tombstones it must anti-join are
  * still on disk until the next compaction).
  */
object GramIndex {
  private case class Meta(n: Int, buckets: Int, tombFolded: Long)

  /** The flat layout [[build]] writes at the index root. */
  private val FlatDirs = Seq("grams", "stats")

  private def meta(spark: SparkSession, path: String): Meta = {
    val g = DriverParquet.read(spark, s"${root(spark, path)}/stats").head
    val tf = if (DriverParquet.has(g, "tombFolded"))
      g.getLong("tombFolded", 0) else -1L
    Meta(g.getInteger("n", 0), g.getInteger("buckets", 0), tf)
  }

  private val StatsSchema = DriverParquet.schema(
    "message stats { optional int32 n; optional int32 buckets; " +
      "optional int64 tombFolded; }")

  private def writeStats(spark: SparkSession, dir: String, n: Int,
      buckets: Int, tombFolded: Long): Unit =
    DriverParquet.overwrite(spark, dir, StatsSchema) { gf =>
      Seq(gf.newGroup().append("n", n).append("buckets", buckets)
        .append("tombFolded", tombFolded))
    }

  /** The live gram rows: root layout minus unfolded tombstones (tiny
    * broadcast anti-join — deletes are visible before any compaction
    * rewrites a bucket). */
  private def liveGrams(spark: SparkSession, path: String,
      m: Meta): DataFrame = {
    val grams = spark.read.parquet(s"${root(spark, path)}/grams")
    MarkerLayout.tombIds(spark, path, m.tombFolded) match {
      case Some(t) => grams.join(broadcast(t), Seq("doc_id"), "left_anti")
      case None => grams
    }
  }

  /** The gram derivation shared by build and append: one row per
    * overlapping `n`-token window — (h = md5 of the space-joined
    * window, doc_id, pos, ntok), exactly d13's shingle discipline so
    * the served answers replay in its oracle. */
  private def gramRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int, buckets: Int): DataFrame = {
    val sp = filter(split(trim(lower(col(textCol))), "\\s+"),
      x => x =!= "")
    docs.select(col(idCol).as("doc_id"), sp.as("sp"))
      .withColumn("ntok", size(col("sp")))
      .where(col("ntok") >= n)
      .select(col("doc_id"), col("ntok"),
        posexplode(transform(sequence(lit(0), col("ntok") - n),
          i => md5(concat_ws(" ", slice(col("sp"), i + 1, lit(n))))))
          .as(Seq("pos", "h")))
      .withColumn("bucket", pmod(xxhash64(col("h")), lit(buckets.toLong)))
  }

  /** Shingle the corpus ONCE into the bucketed layout. A rebuild over
    * a previously deleted-from / compacted index clears the stale
    * tombstones and generations first — they describe the old life,
    * and a leftover marker would shadow the fresh layout. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
      n: Int, buckets: Int = 64): Unit = {
    require(n >= 2, "span length must be at least 2 tokens")
    require(buckets >= 1)
    val spark = docs.sparkSession
    MarkerLayout.reset(spark, path, FlatDirs)
    gramRows(docs, idCol, textCol, n, buckets)
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(s"$path/grams")
    writeStats(spark, s"$path/stats", n, buckets, tombFolded = -1L)
  }

  /** Shingle ONLY the new documents with the frozen width/bucketing
    * into the LIVE generation's partition dirs — the incremental-
    * maintenance path (cost is proportional to the new docs, never
    * the corpus). The caller must not re-append doc_ids already
    * indexed (same contract as [[TextIndex.append]]). */
  def append(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val m = meta(spark, path)
    gramRows(docs, idCol, textCol, m.n, m.buckets)
      .repartition(col("bucket"))
      .write.mode(SaveMode.Append)
      .partitionBy("bucket")
      .parquet(s"${root(spark, path)}/grams")
  }

  /** TAKEDOWN: tombstone `ids` (doc_ids) in O(ids) IO — staged dir +
    * atomic `deleted-<seq>` marker, the all-or-nothing commit every
    * index in this repo uses. Every read path anti-joins the
    * committed tombstones immediately, so from the marker onward the
    * index answers as if rebuilt without the documents (the d19
    * delete == rebuild oracle); [[compact]] reclaims physically.
    * Deleting an absent id is a no-op by construction. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    MarkerLayout.commitTomb(spark, path, meta(spark, path).tombFolded, ids,
      "doc_id")

  /** COMPACTION: fold the accumulated tombstones physically — rewrite
    * the live gram rows (already minus tombstones) into `gen-<g>`,
    * committed by ONE atomic marker create. Superseded state is swept
    * with ONE round of grace: generations older than the PREVIOUS one
    * go now, and tombstone batches go only once a previous generation
    * has already folded them — an in-flight reader holding the old
    * root keeps both the rows and the tombstones it needs until the
    * compaction after next. */
  def compact(spark: SparkSession, path: String): Unit = {
    val m = meta(spark, path)
    // no streaming batches: the batch watermark stays at -1
    MarkerLayout.commitGeneration(spark, path, -1L, m.tombFolded,
      FlatDirs) { fold =>
      liveGrams(spark, path, m)
        .repartition(col("bucket"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(s"${fold.genDir}/grams")
      writeStats(spark, s"${fold.genDir}/stats", m.n, m.buckets,
        fold.tombFolded)
    }
  }

  /** d13's duplicated-span statistics SERVED from the layout: a window
    * whose hash occurs in ≥ 2 distinct docs is a duplicated span; per
    * doc, the span count, the distinct token positions covered, and
    * the covered fraction. No tokenization, no shingling, no md5 —
    * the per-run work is one hash aggregation + join-back on
    * already-derived gram rows (the build paid the CPU once). Output
    * and oracle are [[graft.operators.Dedup.substringDupStats]]'s
    * verbatim. */
  def dupStats(spark: SparkSession, path: String): DataFrame = {
    val m = meta(spark, path)
    val n = m.n
    val grams = liveGrams(spark, path, m)
    val dup = grams.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select("h")
    val hits = grams.join(dup, "h")
    val spans = hits.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"))
    val cov = hits
      .select(col("doc_id"), col("ntok"),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("p"))
      .groupBy(col("doc_id"), col("ntok"))
      .agg(count_distinct(col("p")).as("dup_tokens"))
    spans.join(cov, "doc_id")
      .select(col("doc_id"), col("n_dup_spans"), col("dup_tokens"),
        col("ntok").cast("long").as("n_tokens"),
        (col("dup_tokens").cast("double") / col("ntok")).as("dup_frac"))
  }

  /** Decontamination-shaped PROBE: distinct-gram overlap counts of a
    * (small) probe set against the indexed corpus, reading ONLY the
    * buckets the probe's own grams hash to — the partition filter
    * lands on the `bucket=` dirs, so the scan cost is the probe's
    * bucket set, not the corpus (the [[TextIndex]] pruning story
    * applied to spans; at 64 buckets a small benchmark probe touches
    * a fraction of the layout, and a larger bucket count sharpens the
    * pruning). Returns (probe_id, doc_id, n_overlap) for indexed docs
    * sharing ≥ 1 gram with a probe doc, probe-side self-matches
    * excluded by id. */
  def overlapProbe(spark: SparkSession, path: String, probe: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val m = meta(spark, path)
    val pg = gramRows(probe, idCol, textCol, m.n, m.buckets)
      .select(col("doc_id").as("probe_id"), col("h"), col("bucket"))
    // bounded: the probe is the small side (a benchmark suite, not a
    // corpus) — its distinct bucket list is ≤ `buckets` values
    val probeBuckets = pg.select("bucket").distinct()
      .collect().map(_.getLong(0))
    val grams = liveGrams(spark, path, m)
      .where(col("bucket").isin(probeBuckets: _*))
    grams.join(pg.drop("bucket"), "h")
      .where(col("doc_id") =!= col("probe_id"))
      .groupBy("probe_id", "doc_id")
      .agg(count_distinct(col("h")).as("n_overlap"))
  }
}
