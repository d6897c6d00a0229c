package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-oriented defaults: AQE (runtime re-plan +
  * skew-join splitting), shuffle partitions sized to the deployment (32
  * for local[32]; set to ~2-3x total cores on a real cluster), UTC
  * session time for deterministic event-time semantics, graft's SQL
  * extensions (custom expressions) installed, and `file:` paths served
  * by [[graft.shims.NioRawLocalFileSystem]]: Hadoop's local file system
  * with modes set and symlinks checked through NIO instead of forked
  * `chmod` / `readlink` processes (same files, modes, `.crc` files and
  * atomic renames). Hadoop caches FileSystem instances by scheme and
  * user, not by conf, so a `file:` FileSystem created in the JVM before
  * the first graft session keeps Hadoop's class; FileContext, which
  * streaming checkpoints and state stores write through, is not cached.
  *
  * Spark's parallel file listing (a file stream source's `getBatch`,
  * and any read of more than 32 paths) runs one task per core, not one
  * per file. A listing task lists its file in under a millisecond, but
  * first deserializes the session's Hadoop conf (~114 KB, 14–42 ms),
  * so a 100-file trigger paid that 100 times. Raising Spark's 32-path
  * threshold instead would list serially on the driver, one round trip
  * per file on an object store; the cap keeps the listing distributed.
  *
  * Streams: the RocksDB provider below backs graft's keyed-state
  * operators, `IntervalJoin.streaming` among them (list state and
  * timers are column families of one store per partition). An interval
  * join of two watermarked streams, in SQL or with `Dataset.join`, runs
  * on that operator (`plans.RewriteIntervalJoin`), not on Spark's
  * `StreamingSymmetricHashJoinExec`, whose constructor broadcasts this
  * session's Hadoop conf: planning copies the node about 18 times per
  * micro-batch, and the serialized conf (~114 KB) took ~40% of a small
  * trigger. `stateFormatVersion=3` below governs only the stream-stream
  * joins that rule does not take, which keep Spark's operator.
  */
object GraftSession {
  private val LocalMaster = """local(?:\[(\d+|\*)(?:\s*,\s*\d+)?\])?""".r

  /** Cores the session's tasks run on: `local[N]` (also `local[N,F]`)
    * gives N, `local[*]` the host's processors, bare `local` 1. A
    * cluster master gives `shufflePartitions`, which a deployer sizes
    * to the cluster's cores (above). */
  private def cores(master: String, shufflePartitions: Int): Int = master match {
    case LocalMaster(null) => 1
    case LocalMaster("*") => Runtime.getRuntime.availableProcessors
    case LocalMaster(n) => n.toInt
    case _ => shufflePartitions
  }

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // other AQE knobs keep Spark's defaults; a deployer sets them directly
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one listing task per core, not per file (see the object doc)
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        cores(master, shufflePartitions).toString)
      // graft tables are FIELD-ID mapped (Iceberg-style column
      // identity: RENAME resolves old files by id, a re-added dropped
      // name can never match retired bytes). Matching engages only
      // when a read's requested schema carries ids — every other
      // parquet read keeps plain name matching, so this is inert
      // outside graft catalogs
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      // streaming state that spills: the default provider keeps every
      // key on-heap (executor-memory-bound); RocksDB keeps working
      // state off-heap/on-disk with incremental checkpoints — the
      // provider a long-running large-state stream needs
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Changelog checkpointing (r15): commit uploads the per-batch
      // changelog instead of a full RocksDB snapshot — the per-batch
      // commit cost stops scaling with total state size (snapshots
      // still happen, asynchronously in the background). Same state
      // semantics, same provider; this is the documented production
      // setting for frequent small commits.
      .config("spark.sql.streaming.stateStore.rocksdb" +
        ".changelogCheckpointing.enabled", "true")
      // Stream-stream join state format 3, for the joins left on Spark's
      // operator (see the object doc): a partition's four join-state
      // maps live as column families of ONE RocksDB instance, so each
      // task commits one store (and writes one changelog) per trigger
      // instead of four. Needs the RocksDB provider above — the HDFS-backed
      // provider has no column families and refuses it at query start.
      // A checkpoint records its format, so a query restarted from an
      // older checkpoint keeps that checkpoint's format.
      .config("spark.sql.streaming.join.stateFormatVersion", "3")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .config("spark.hadoop.fs.file.impl", classOf[graft.shims.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.shims.NioLocalFs].getName)

  /** Local session for tests / exploration. */
  def local(cores: Int = 4): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
