package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{md5_minhash_signature, md5_simhash64, minhash_signature, simhash64}

/** Document deduplication operators for LLM-scale corpora.
  *
  * Scale notes (SURVEY §4): every variant here is linear-ish — dup
  * candidates come from equality joins on hash buckets (LSH bands /
  * simhash bands / exact normalized hash), never from an n^2
  * similarity join. The only quadratic step is the *verify* pass,
  * which runs per-bucket on candidate pairs only.
  */
object Dedup {
  /** Exact dedup on normalized text: one surviving row (min id) per
    * distinct normalized content + the copy count. At scale this is
    * one hash-partitioned aggregation; grouping by the 64-bit
    * xxhash of the text (instead of the full text) keeps shuffle rows
    * small — collision probability at 10^11 docs is ~1e-3 and the
    * min-id winner is unaffected by which copy wins. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = lower(trim(col(textCol)))
    df.groupBy(xxhash64(norm).as("__g_key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__g_key")
  }

  /** Word-shingle set of a text column (distinct `w`-grams), built
    * from codegen'd collection functions — no UDF. */
  def shingles(textCol: Column, w: Int): Column = {
    val words = split(trim(textCol), "\\s+")
    array_distinct(transform(
      sequence(lit(0), greatest(size(words) - w, lit(0))),
      i => concat_ws(" ", slice(words, i + 1, lit(w)))))
  }

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b)))
  }

  /** Exact n-gram Jaccard similarity join: ALL doc pairs with
    * shingle-Jaccard >= threshold (no blocking that could miss
    * cross-block dups).
    *
    * Pruning is exact: jaccard >= t implies the shingle-set sizes have
    * ratio <= 1/t (inter <= min, union >= max => j <= min/max), so the
    * size predicates drop pairs *before* any set intersection, and the
    * intersection is computed once per surviving pair. The small side
    * is broadcast, so parallelism is the streamed side's partitioning —
    * no low-cardinality shuffle key (a lang-blocked equi-join would
    * put the whole corpus on a handful of shuffle partitions).
    *
    * This is the exact/verify-grade operator: it is quadratic by
    * definition. At 100 TB run `minhashLsh` (linear-ish candidates)
    * and use this only as the verify stage on candidates.
    *
    * @param cacheBase cache the per-doc shingle table (the plan scans
    *   it on BOTH join sides). Off by default: the caller owns the
    *   cache's lifetime and repeated invocations would otherwise leak
    *   storage memory; opt in for iterate-in-session use. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 2, threshold: Double = 0.5,
      cacheBase: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    import graft.functions.GraftFunctions.{shingle_hashes, sorted_intersect_count}
    val ratio = 1.0 / threshold
    // One custom-expression pass per document: tokenize -> shingle ->
    // hash64 -> distinct -> sort. The per-pair verify is then a linear
    // merge over sorted longs instead of a per-pair string-set build.
    // 64-bit hashing cannot create false positives at any realistic
    // corpus size (expected collisions ~ pairs * |sh|^2 / 2^64).
    val base0 = df.select(col(idCol),
        shingle_hashes(col(textCol), shingleWords).as("shh"))
      .withColumn("n", size(col("shh")))
    val base = if (cacheBase) base0.cache() else base0
    // small corpora arrive as ONE parquet partition; the streamed side
    // of a broadcast join inherits that, serializing the whole O(n^2)
    // verify onto one core — spread it first
    val a = base.select(col(idCol).as("id_a"), col("shh").as("shh_a"), col("n").as("n_a"))
      .repartition(col("id_a"))
    val b = base.select(col(idCol).as("id_b"), col("shh").as("shh_b"), col("n").as("n_b"))
    val cheap = col("id_a") < col("id_b") &&
      col("n_a") <= col("n_b") * ratio && col("n_b") <= col("n_a") * ratio
    // j >= t  <=>  inter*(1+t) >= t*(na+nb); the when() guard keeps the
    // merge from running on pairs the cheap predicates already killed
    // (Catalyst pushes this filter into the join condition, where it
    // would otherwise be evaluated FIRST on every cross pair)
    val interCond = sorted_intersect_count(col("shh_a"), col("shh_b")).cast("double") *
      (1.0 + threshold) >= lit(threshold) * (col("n_a") + col("n_b"))
    a.join(broadcast(b), cheap)
      .where(when(cheap, interCond).otherwise(lit(false)))
      .withColumn("inter", sorted_intersect_count(col("shh_a"), col("shh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash + LSH near-dup pairs.
    *
    * shingle -> `numHashes`-slot MinHash signature (single-pass native
    * expression) -> `bands` bands of numHashes/bands rows -> explode ->
    * equality self-join on (band, bandHash) -> distinct candidate
    * pairs -> *exact* shingle-Jaccard verify >= `threshold`.
    *
    * Detection guarantee: a pair with Jaccard j collides in >= 1 band
    * with prob 1-(1-j^r)^b (r = rows/band). The band join is an
    * equi-join on a high-cardinality 64-bit key: fully parallel,
    * skew only where true near-dup clusters exist (AQE splits those).
    */
  /** Bands needed for MinHash-LSH banding to catch a pair at Jaccard
    * >= `threshold` with probability >= 1 - `maxMissProb`, at
    * `rowsPerBand` hashes per band: each band matches w.p. j^r, so the
    * miss probability over b bands is (1 - j^r)^b <= maxMissProb at
    * j = threshold (and strictly lower above it — collision prob is
    * monotone in j). The same derivation [[Similarity.lshTablesFor]]
    * applies to hyperplane tables, re-expressed for minhash bands:
    * callers stop hoping 16 bands is enough and SIZE the sketch to a
    * stated recall bound. Larger `rowsPerBand` sharpens candidate
    * precision (fewer sub-threshold collisions) at the price of more
    * bands for the same bound. */
  def minhashBandsFor(threshold: Double, rowsPerBand: Int,
      maxMissProb: Double): Int = {
    require(threshold > 0.0 && threshold < 1.0 && rowsPerBand >= 1 &&
      maxMissProb > 0.0 && maxMissProb < 1.0)
    val pBand = math.pow(threshold, rowsPerBand)
    math.max(1, math.ceil(math.log(maxMissProb) / math.log1p(-pBand)).toInt)
  }

  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    import graft.functions.GraftFunctions.{shingle_hashes, sorted_intersect_count}
    val r = numHashes / bands
    val sigs = df.select(col(idCol),
      shingle_hashes(col(textCol), shingleWords).as("shh"),
      minhash_signature(col(textCol), shingleWords, numHashes).as("__g_sig"))
    val banded = sigs.select(col(idCol), col("shh"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        xxhash64(lit(b), slice(col("__g_sig"), b * r + 1, r)).as("bh"))): _*)).as("__g_b"))
      .select(col(idCol), col("shh"),
        col("__g_b.band").as("__g_band"), col("__g_b.bh").as("__g_bh"))
    val l = banded.select(col("__g_band"), col("__g_bh"),
      col(idCol).as("id_a"), col("shh").as("shh_a"))
    val rt = banded.select(col("__g_band").as("__g_band2"), col("__g_bh").as("__g_bh2"),
      col(idCol).as("id_b"), col("shh").as("shh_b"))
    val cand = l.join(rt,
        l("__g_band") === rt("__g_band2") && l("__g_bh") === rt("__g_bh2") &&
          l("id_a") < rt("id_b"))
      .select("id_a", "id_b", "shh_a", "shh_b")
      .dropDuplicates("id_a", "id_b")
    // exact verify on the sorted hash sets (same merge as jaccardJoin)
    cand.withColumn("inter", sorted_intersect_count(col("shh_a"), col("shh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shh_a")) + size(col("shh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** CROSS-SET MinHash-LSH near-dup pairs: same banding + exact
    * verify as [[minhashLsh]], but candidates join the LEFT set
    * against the RIGHT set (no self-pairs, no ordering constraint) —
    * the shape of benchmark decontamination, where the question is
    * "which corpus docs nearly duplicate an eval doc", not "which
    * corpus docs duplicate each other". Band buckets are
    * high-cardinality equi-join keys, so the join is a plain shuffle
    * join at any scale; only bucket collisions pay the exact
    * verification. Output: (id_a ∈ a, id_b ∈ b, jaccard ≥ threshold). */
  def minhashLshCross(a: DataFrame, b: DataFrame, idCol: String,
      textCol: String, shingleWords: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    import graft.functions.GraftFunctions.{shingle_hashes, sorted_intersect_count}
    val r = numHashes / bands
    def banded(df: DataFrame) = {
      val sigs = df.select(col(idCol),
        shingle_hashes(col(textCol), shingleWords).as("shh"),
        minhash_signature(col(textCol), shingleWords, numHashes).as("__g_sig"))
      sigs.select(col(idCol), col("shh"),
        explode(array((0 until bands).map(bd => struct(lit(bd).as("band"),
          xxhash64(lit(bd), slice(col("__g_sig"), bd * r + 1, r)).as("bh"))): _*))
          .as("__g_b"))
        .select(col(idCol), col("shh"),
          col("__g_b.band").as("__g_band"), col("__g_b.bh").as("__g_bh"))
    }
    val l = banded(a).select(col("__g_band"), col("__g_bh"),
      col(idCol).as("id_a"), col("shh").as("shh_a"))
    val rt = banded(b).select(col("__g_band").as("__g_band2"),
      col("__g_bh").as("__g_bh2"), col(idCol).as("id_b"),
      col("shh").as("shh_b"))
    val cand = l.join(rt,
        l("__g_band") === rt("__g_band2") && l("__g_bh") === rt("__g_bh2"))
      .select("id_a", "id_b", "shh_a", "shh_b")
      .dropDuplicates("id_a", "id_b")
    cand.withColumn("inter", sorted_intersect_count(col("shh_a"), col("shh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shh_a")) + size(col("shh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** NEAR-dup decontamination: drop corpus docs whose text nearly
    * duplicates ANY benchmark doc — the fuzzy big brother of the
    * exact n-gram decontam (`CorpusOps.decontaminate`), catching the
    * reformatted / lightly-edited eval leakage exact grams miss.
    * One [[minhashLshCross]] + a LEFT ANTI join on the flagged ids. */
  def decontaminateNearDup(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleWords: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val flagged = minhashLshCross(corpus, benchmark, idCol, textCol,
        shingleWords, numHashes, bands, threshold)
      .select(col("id_a").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard join via PREFIX FILTERING (PPJoin-style) —
    * same results as `jaccardJoin`, but shaped for 100 TB:
    *
    * With shingle hashes sorted ascending (a global canonical order),
    * any pair with overlap >= t shares its MINIMAL common element
    * within the first |x| - t + 1 elements of each side (if the
    * smallest common element were outside the prefix, fewer than t
    * elements of the set could be >= it). Since j >= tau implies
    * overlap >= ceil(tau*|x|) for both sides, indexing only each
    * doc's first |x| - ceil(tau*|x|) + 1 hashes is lossless.
    *
    * Plan shape: explode prefixes -> equi-join on the 64-bit hash
    * (high-cardinality, fully parallel, no broadcast requirement) ->
    * distinct candidate pairs -> re-join signatures by id -> exact
    * merge verify. Every stage is a shuffle equi-join or aggregation:
    * no O(n^2) scan anywhere, so it survives corpus scale the
    * broadcast variant cannot. */
  def jaccardJoinPrefix(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 2, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    import graft.functions.GraftFunctions.{shingle_hashes, sorted_intersect_count}
    val ratio = 1.0 / threshold
    val base = df.select(col(idCol).as("id"),
        shingle_hashes(col(textCol), shingleWords).as("shh"))
      .withColumn("n", size(col("shh")))
    val prefixLen = (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int")
    val posts = base.select(col("id"), col("n"),
      explode(slice(col("shh"), lit(1), prefixLen)).as("h"))
    val pa = posts.select(col("h").as("ha"), col("id").as("id_a"), col("n").as("na"))
    val pb = posts.select(col("h").as("hb"), col("id").as("id_b"), col("n").as("nb"))
    val cand = pa.join(pb, col("ha") === col("hb") && col("id_a") < col("id_b") &&
        col("na") <= col("nb") * ratio && col("nb") <= col("na") * ratio)
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val joined = cand
      .join(base.select(col("id").as("id_a"), col("shh").as("shh_a"), col("n").as("n_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("shh").as("shh_b"), col("n").as("n_b")), "id_b")
    joined
      .withColumn("inter", sorted_intersect_count(col("shh_a"), col("shh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** `jaccardJoinPrefix` with FREQUENCY-ORDERED prefixes — the full
    * PPJoin recipe. The canonical order becomes (doc-frequency, hash)
    * ascending, so each doc's indexed prefix holds its *rarest*
    * shingles and candidate buckets stay small even when the corpus
    * shares a dense common vocabulary (where hash-ordered prefixes
    * degrade into fat buckets of ubiquitous shingles). Costs one extra
    * aggregation (global doc-frequency) and a per-doc re-sort; every
    * stage is still a shuffle equi-join/agg — nothing quadratic,
    * nothing broadcast. */
  def jaccardJoinPrefixRare(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 2, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    import graft.functions.GraftFunctions.{shingle_hashes, sorted_intersect_count}
    val ratio = 1.0 / threshold
    val base = df.select(col(idCol).as("id"),
        shingle_hashes(col(textCol), shingleWords).as("shh"))
      .withColumn("n", size(col("shh")))
    val posts = base.select(col("id"), explode(col("shh")).as("h"))
    val dfreq = posts.groupBy("h").agg(count(lit(1)).as("df"))
    // per-doc shingles re-ordered by (global df, hash): struct sort is
    // lexicographic, so sort_array gives exactly the canonical order
    val ordered = posts.join(dfreq, "h")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
      .join(base.select("id", "n"), "id")
    val prefixLen = (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int")
    val pfx = ordered.select(col("id"), col("n"),
      explode(slice(col("ord"), lit(1), prefixLen)).as("e"))
      .select(col("id"), col("n"), col("e.h").as("h"))
    val pa = pfx.select(col("h").as("ha"), col("id").as("id_a"), col("n").as("na"))
    val pb = pfx.select(col("h").as("hb"), col("id").as("id_b"), col("n").as("nb"))
    val cand = pa.join(pb, col("ha") === col("hb") && col("id_a") < col("id_b") &&
        col("na") <= col("nb") * ratio && col("nb") <= col("na") * ratio)
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    cand
      .join(base.select(col("id").as("id_a"), col("shh").as("shh_a"), col("n").as("n_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("shh").as("shh_b"), col("n").as("n_b")), "id_b")
      .withColumn("inter", sorted_intersect_count(col("shh_a"), col("shh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT directional CONTAINMENT join — the dedup mode Jaccard
    * misses: a wire story embedded verbatim in a longer article has
    * C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| ≈ 1 while
    * the Jaccard is dragged down by the article's extra text, so d2/d4
    * never pair them. Emits (id_a, id_b, containment) for every
    * ORDERED pair with C(id_a → id_b) ≥ threshold (id_a is the
    * contained side; a near-exact duplicate shows up in both
    * directions).
    *
    * Scale shape — the PPJoin prefix discipline adapted to the
    * directional predicate: shingles get the canonical
    * (global-doc-frequency, hash) order, and a pair can reach overlap
    * o = ceil(t·|A|) only if A's PREFIX of its |A|−o+1 RAREST
    * shingles hits B somewhere (all-shared-in-the-suffix caps the
    * overlap at o−1 — the usual prefix proof, valid for any canonical
    * order). So the candidate join is A-prefixes (the (1−t) rarest
    * fraction of each doc) against B's full posting list — rare-first
    * ordering keeps those buckets thin exactly where hash-ordered
    * prefixes would explode on a shared vocabulary. A size guard
    * (|B| ≥ ceil(t·|A|) — B must be big enough to contain A's
    * required overlap) prunes before the exact verify; the verify is
    * one sorted-merge intersection per surviving candidate. Every
    * stage is a shuffle equi-join/aggregation — nothing quadratic,
    * nothing broadcast. */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
      shingleWords: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    import graft.functions.GraftFunctions.{shingle_hashes, sorted_intersect_count}
    val base = df.select(col(idCol).as("id"),
        shingle_hashes(col(textCol), shingleWords).as("shh"))
      .withColumn("n", size(col("shh")))
    val posts = base.select(col("id"), explode(col("shh")).as("h"))
    val dfreq = posts.groupBy("h").agg(count(lit(1)).as("df"))
    val ordered = posts.join(dfreq, "h")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
      .join(base.select("id", "n"), "id")
    val reqOverlap = ceil(lit(threshold) * col("n")).cast("long")
    val prefixLen = (col("n") - reqOverlap + 1).cast("int")
    val pfxA = ordered.select(col("id").as("id_a"), col("n").as("na"),
      explode(slice(col("ord"), lit(1), prefixLen)).as("e"))
      .select(col("id_a"), col("na"), col("e.h").as("ha"))
    val postsB = base.select(col("id").as("id_b"), col("n").as("nb"),
      explode(col("shh")).as("hb"))
    val cand = pfxA.join(postsB,
        col("ha") === col("hb") && col("id_a") =!= col("id_b") &&
          col("nb") >= ceil(lit(threshold) * col("na")).cast("long"))
      .select("id_a", "id_b", "na").dropDuplicates("id_a", "id_b")
    cand
      .join(base.select(col("id").as("id_a"), col("shh").as("shh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("shh").as("shh_b")), "id_b")
      .withColumn("inter", sorted_intersect_count(col("shh_a"), col("shh_b")))
      .withColumn("containment", col("inter").cast("double") / col("na"))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Cross-group content-overlap estimation: per-doc MinHash
    * signatures reduce (map-side partial, slot-wise min) to ONE
    * signature per group; pairwise slot agreement then estimates the
    * Jaccard similarity of the groups' distinct-shingle sets.
    * Cost at 100 TB: one linear scan + a tiny per-group shuffle —
    * never touches doc pairs. */
  /** @param md5Hash hash the grams with the engine-mirrorable md5
    *   basis (`Md5MinHash`) instead of the faster FNV family — lets an
    *   external engine reproduce the signatures bit-for-bit, which is
    *   how the driver's DuckDB oracle checks this estimator. */
  def corpusOverlap(df: DataFrame, groupCol: String, textCol: String,
      shingleWords: Int = 3, numHashes: Int = 128,
      md5Hash: Boolean = false): DataFrame = {
    import graft.functions.GraftFunctions.minhash_merge
    val docSig =
      if (md5Hash) md5_minhash_signature(col(textCol), shingleWords, numHashes)
      else minhash_signature(col(textCol), shingleWords, numHashes)
    val groups = df.groupBy(col(groupCol))
      .agg(minhash_merge(docSig).as("gsig"),
        count(lit(1)).as("n_docs"))
    val a = groups.select(col(groupCol).as("group_a"), col("gsig").as("sig_a"),
      col("n_docs").as("docs_a"))
    val b = groups.select(col(groupCol).as("group_b"), col("gsig").as("sig_b"),
      col("n_docs").as("docs_b"))
    a.join(b, col("group_a") < col("group_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)) / lit(numHashes.toDouble))
      .select("group_a", "group_b", "docs_a", "docs_b", "est_jaccard")
  }

  /** SimHash near-dup pairs: 64-bit simhash, split into `bands` bit
    * slices; pairs agreeing on >= 1 slice are candidates; keep pairs
    * with Hamming distance <= maxHamming (guaranteed found when
    * maxHamming < bands). Same equality-join scale shape as MinHash. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 8, maxHamming: Int = 7,
      md5Hash: Boolean = false): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val w = 64 / bands
    val sh = if (md5Hash) md5_simhash64(col(textCol)) else simhash64(col(textCol))
    val sigs = df.select(col(idCol), sh.as("__g_sh"))
    val banded = sigs.select(col(idCol), col("__g_sh"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("__g_sh"), b * w)
          .bitwiseAND(lit((1L << w) - 1)).as("bv"))): _*)).as("__g_b"))
      .select(col(idCol), col("__g_sh"),
        col("__g_b.band").as("__g_band"), col("__g_b.bv").as("__g_bv"))
    val l = banded.select(col("__g_band"), col("__g_bv"),
      col(idCol).as("id_a"), col("__g_sh").as("sh_a"))
    val rt = banded.select(col("__g_band").as("__g_band2"), col("__g_bv").as("__g_bv2"),
      col(idCol).as("id_b"), col("__g_sh").as("sh_b"))
    val xor = l("sh_a").bitwiseXOR(rt("sh_b"))
    // FIRST-MATCH emission: a pair is kept only at the lowest band the
    // two signatures agree on — a map-side bitwise check on the XOR —
    // so every surviving pair is emitted exactly once and the pair
    // dedup needs NO distinct/shuffle at all. (Word-soup corpora find
    // a pair on ~3 bands on average; a dropDuplicates here would
    // re-shuffle every surviving pair just to discard the repeats.)
    val firstMatch = (0 until bands).map { bp =>
      (l("__g_band") <= bp) ||
        (shiftrightunsigned(xor, bp * w).bitwiseAND(lit((1L << w) - 1)) =!= 0)
    }.reduce(_ && _)
    l.join(rt, l("__g_band") === rt("__g_band2") && l("__g_bv") === rt("__g_bv2") &&
        l("id_a") < rt("id_b"))
      .where(firstMatch)
      .select(col("id_a"), col("id_b"), bit_count(xor).as("hamming"))
      // hamming is pair-deterministic, filtered before anything
      // downstream sees the candidates
      .where(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS (minhashLsh / jaccardJoin* / simhashPairs /
    * embedding near-dups) into dedup GROUPS a survivor can be picked
    * from. Hash-min label propagation: each round every node takes the
    * min label among itself and its neighbors (one shuffle join + one
    * min-aggregate), converging in O(component diameter) rounds — the
    * classic MapReduce connected-components recipe. Near-dup clusters
    * are dense (diameter 1-2), so 2-3 rounds settle real corpora;
    * `maxIterations` bounds adversarial chain graphs, and each round is
    * localCheckpoint'ed so lineage stays flat and prior rounds are
    * reclaimed by the context cleaner.
    *
    * Returns (id, component) for every node appearing in `pairs`,
    * where component = the minimum id reachable from the node. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIterations: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftshim.SparkShims.localCheckpointKeepingLayout
    // hash(b) pinned at build (explicit count — AQE-coalesce-proof) and
    // KEPT through the checkpoint: every round's neighbor-min join
    // clusters on b, so the big edge side never re-Exchanges (the
    // Graph-family round discipline)
    val nShuffle = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val edges = localCheckpointKeepingLayout(
      pairs.select(col(aCol).as("a"), col(bCol).as("b"))
        .union(pairs.select(col(bCol).as("a"), col(aCol).as("b")))
        .repartition(nShuffle, col("b")))
    var labels = localCheckpointKeepingLayout(
      edges.select(col("a").as("id")).distinct()
        .withColumn("comp", col("id")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIterations) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("comp").as("bcomp")), "b")
        .groupBy(col("a").as("id")).agg(min("bcomp").as("nmin"))
      val next = localCheckpointKeepingLayout(
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
            (coalesce(col("nmin"), col("comp")) < col("comp")).as("__g_ch")))
      changed = next.where(col("__g_ch")).count()
      labels = next.select("id", "comp")
      it += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIterations rounds " +
        "(component diameter exceeds the bound; raise maxIterations)")
    labels
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * rounds — the published two-phase MapReduce algorithm (Kiveris et
    * al., "Connected Components in MapReduce and Beyond"), converging
    * in O(log^2 n) rounds on ANY topology. Use this instead of
    * [[connectedComponents]] when the graph's shape is unknown or
    * adversarial: hash-min needs O(diameter) rounds (a 10^5-node chain
    * is 10^5 rounds) and repeatedly funnels a hot node's full neighbor
    * list through the same reducer key every round, while the star
    * rounds provably SHRINK hot-node fan-in (each large-star hangs a
    * hub's larger neighbors under the component min, so the hub's key
    * drains over rounds instead of persisting).
    *
    * Every per-round op is a partial-agg groupBy or an equi-join of
    * edges against a one-row-per-node min table — no collect, no
    * per-key neighbor lists materialized. Same output contract as
    * [[connectedComponents]]: (id, comp = min reachable id) for every
    * node appearing in `pairs`. */
  def connectedComponentsStars(pairs: DataFrame, aCol: String, bCol: String,
      maxIterations: Int = 40): DataFrame = {
    val nodes = pairs.select(col(aCol).as("id"))
      .union(pairs.select(col(bCol).as("id"))).distinct().localCheckpoint(true)
    // self-loop-free distinct undirected edge set
    var edges = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("l"), greatest(col("a"), col("b")).as("g"))
      .distinct()
      .select(col("l").as("a"), col("g").as("b")).localCheckpoint(true)

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = und.groupBy("a")
        .agg(min("b").as("nb"))
        .select(col("a"), least(col("a"), col("nb")).as("m"))
      und.join(mins, "a").where(col("b") > col("a"))
        .select(col("b").as("l"), col("m").as("g"))
        .where(col("l") =!= col("g")).distinct()
        .select(col("l").as("a"), col("g").as("b"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge toward its larger endpoint as the key
      val or = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val joined = or.join(
        or.groupBy("a").agg(min("b").as("m")), "a")
      joined.where(col("b") =!= col("m"))
        .select(col("b").as("l"), col("m").as("g"))
        .union(joined.select(col("a").as("l"), col("m").as("g")))
        .where(col("l") =!= col("g")).distinct()
        .select(col("l").as("a"), col("g").as("b"))
    }

    var it = 0
    var converged = false
    while (!converged && it < maxIterations) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // fixed point: equal cardinality + one-way containment is set
      // equality — one anti-join instead of two (counts over the
      // checkpointed frames are near-free)
      converged = next.count() == edges.count() &&
        next.join(edges, Seq("a", "b"), "left_anti").isEmpty
      edges = next
      it += 1
    }
    require(converged,
      s"connectedComponentsStars did not converge in $maxIterations rounds")
    // converged edges are (member, root) stars; roots map to themselves
    nodes.join(edges.select(col("a").as("id"), col("b").as("__g_c")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__g_c"), col("id")).as("comp"))
  }

  /** Dedup groups with sizes: every doc that belongs to a multi-doc
    * near-dup component, labeled by its group (min member id).
    * The DEFAULT routes through [[connectedComponentsStars]]: hash-min
    * label propagation funnels a hub's whole neighborhood through one
    * reducer key per round, so on hub-heavy graphs (exactly what
    * near-dup clusters look like — one template, 10^6 copies) the
    * default must be the topology-robust algorithm, not the one that
    * happens to win on easy graphs. `stars = false` keeps hash-min as
    * the explicitly-chosen variant for low-diameter, hub-free edge
    * sets where its fewer rounds win. */
  def groups(pairs: DataFrame, aCol: String, bCol: String,
      stars: Boolean = true): DataFrame = {
    val comp = if (stars) connectedComponentsStars(pairs, aCol, bCol)
      else connectedComponents(pairs, aCol, bCol)
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("group_size"))
    comp.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("group_id"),
        col("group_size"))
  }

  /** CANONICAL-REPRESENTATIVE selection — the dedup decision table a
    * curation pipeline actually MATERIALIZES (the Common Crawl /
    * RefinedWeb shape: near-dup groups keep their best member, and
    * every row carries its verdict for audit): per connected
    * component, the representative maximizes `scoreCol` (keep the
    * longest/highest-quality doc — the standard heuristic), ties to
    * the smallest id; docs in no pair are their own singleton group.
    * One argmax aggregation over [[groups]]'s output joined back to
    * the corpus — no new shuffle shape beyond the component chain.
    * `scoreCol` must be integral (the repo's float-free ranking
    * discipline; length and integer quality counts both qualify).
    *
    * @return (doc_id, group_id, canonical_id, keep, group_size) —
    *         keep iff this row IS the representative.
    */
  def canonical(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val comp = groups(pairs, aCol, bCol)
    // a null score would sort FIRST in the argmin struct (nulls-first
    // ASC) and make the scoreless doc the canonical — rank it LAST
    // instead (a doc with no length/quality signal never represents
    // its group unless it is alone in it)
    val g = docs
      .select(col(idCol).cast("long").as("doc_id"),
        coalesce(col(scoreCol).cast("long"), lit(Long.MinValue + 1))
          .as("__score"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"),
        coalesce(col("group_size"), lit(1L)).as("group_size"),
        col("__score"))
    val canon = g.groupBy("group_id")
      .agg(min(struct((-col("__score")).as("ns"),
        col("doc_id").as("id"))).as("pick"))
      .select(col("group_id"), col("pick.id").as("canonical_id"))
    g.join(canon, "group_id")
      .select(col("doc_id"), col("group_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("keep"),
        col("group_size"))
  }

  /** Drop every non-survivor: keep each component's min-id member plus
    * all docs that never appeared in a pair. */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .where(col("id") =!= col("comp")).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** EXACT SUBSTRING-span duplication stats — the "duplicated
    * passages" analysis (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better": repeated ≥n-token spans across
    * documents are memorization fuel even when whole docs differ).
    * Every overlapping n-token window is hashed (md5 over the
    * space-joined tokens — engine-reproducible, the d3/d6
    * discipline); a window whose hash occurs in ≥2 DISTINCT docs is a
    * duplicated span. Per doc: how many of its windows are duplicated
    * (`n_dup_spans`), how many distinct token positions those windows
    * cover (`dup_tokens` — the union of [pos, pos+n) intervals, i.e.
    * the part of the doc that exists verbatim elsewhere), and the
    * covered fraction (`dup_frac`) a cleaning pipeline thresholds on.
    * Docs with no duplicated span are absent (dup_frac 0).
    *
    * Plan shape at 100 TB: one gram row per corpus token; finding
    * duplicated hashes is a hash-partitioned aggregation and the
    * join-back is a shuffle equi-join on the same key — a term-
    * frequency-shaped plan, never pairwise. The ×n coverage explode
    * runs only on duplicated hits. No windows, no driver state. */
  def substringDupStats(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, "span length must be at least 2 tokens")
    val sp = filter(split(trim(lower(col(textCol))), "\\s+"),
      x => x =!= "")
    val d = docs.select(col(idCol), sp.as("sp"))
      .withColumn("ntok", size(col("sp")))
      .where(col("ntok") >= n)
    val grams = d.select(col(idCol), col("ntok"),
      posexplode(transform(sequence(lit(0), col("ntok") - n),
        i => md5(concat_ws(" ", slice(col("sp"), i + 1, lit(n))))))
        .as(Seq("pos", "h")))
    val dup = grams.groupBy("h")
      .agg(count_distinct(col(idCol)).as("nd"))
      .where(col("nd") >= 2).select("h")
    val hits = grams.join(dup, "h")
    val spans = hits.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"))
    val cov = hits
      .select(col(idCol), col("ntok"),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("p"))
      .groupBy(col(idCol), col("ntok"))
      .agg(count_distinct(col("p")).as("dup_tokens"))
    spans.join(cov, idCol)
      .select(col(idCol), col("n_dup_spans"), col("dup_tokens"),
        col("ntok").cast("long").as("n_tokens"),
        (col("dup_tokens").cast("double") / col("ntok")).as("dup_frac"))
  }

  /** Duplicated-span REMOVAL — the cleaning action on top of
    * [[substringDupStats]] (Lee et al. keep one occurrence of each
    * repeated passage and cut the rest). The CANONICAL copy of a
    * duplicated n-token window is the one in the minimum doc_id
    * containing its hash; every other doc drops the token positions
    * that window covers. Canonical docs keep all their occurrences,
    * so each passage survives exactly somewhere and the rule is
    * deterministic whatever the join/partition order. Emits every doc
    * (n_dropped = 0 where nothing was cut) with the cleaned text
    * rebuilt from the kept tokens — normalized (lowercased,
    * whitespace-collapsed), the same token stream the hashes saw.
    *
    * Plan shape: d13's gram agg + join-back, then ONE doc-keyed
    * aggregation of dropped positions and a codegen'd
    * filter-by-index over each doc's token array — no per-token
    * window sort, no driver state. */
  def removeDuplicateSpans(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, "span length must be at least 2 tokens")
    val sp = filter(split(trim(lower(col(textCol))), "\\s+"),
      x => x =!= "")
    val base = docs.select(col(idCol), sp.as("sp"))
    val d = base.withColumn("ntok", size(col("sp")))
      .where(col("ntok") >= n)
    val grams = d.select(col(idCol),
      posexplode(transform(sequence(lit(0), col("ntok") - n),
        i => md5(concat_ws(" ", slice(col("sp"), i + 1, lit(n))))))
        .as(Seq("pos", "h")))
    val keepers = grams.groupBy("h")
      .agg(count_distinct(col(idCol)).as("nd"),
        min(col(idCol)).as("keeper"))
      .where(col("nd") >= 2).select("h", "keeper")
    val dropPos = grams.join(keepers, "h")
      .where(col(idCol) =!= col("keeper"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("p"))
      .groupBy(col(idCol)).agg(collect_set(col("p")).as("dp"))
    base.join(dropPos, Seq(idCol), "left")
      .withColumn("dp", coalesce(col("dp"), array().cast("array<int>")))
      .select(col(idCol),
        size(col("sp")).cast("long").as("n_tokens"),
        size(col("dp")).cast("long").as("n_dropped"),
        array_join(filter(col("sp"),
          (x, i) => !array_contains(col("dp"), i)), " ").as("clean_text"))
  }

  /** TYPO-TOLERANT entity pair matching — edit-distance ≤ 1 pairs by
    * SYMMETRIC-DELETE blocking (the SymSpell argument): index every
    * string under itself plus each of its single-character deletions;
    * two strings within one edit ALWAYS share a key (substitution →
    * delete the differing position from both; insertion/deletion →
    * the shorter IS a deletion variant of the longer; equality →
    * identity), so the candidate generation is ONE equi-join on the
    * variant key — Σ bucket² work, never the n² cross join the naive
    * levenshtein join needs — and the exact `levenshtein` check runs
    * on candidates only (the PPJoin discipline: block, then verify).
    * At 100 TB the variant explode is a flatMap-shaped projection
    * (len+1 rows per entity) and the join shuffles on short string
    * keys; no driver-side state.
    *
    * Pairs are emitted once with `name_a < name_b` (equal names are
    * exact-duplicate territory — [[exact]] — not typos, and are
    * deliberately excluded). Returns (id_a, id_b, name_a, name_b). */
  def typoPairs(df: DataFrame, idCol: String, nameCol: String): DataFrame = {
    // the id must survive the long cast LOUDLY: a non-numeric id would
    // otherwise become null and emit null id_a/id_b pairs silently
    val idL = col(idCol).cast("long")
    val base = df.select(
      when(col(idCol).isNotNull && idL.isNotNull, idL)
        .otherwise(raise_error(concat(
          lit(s"typoPairs: null or non-numeric $idCol: "),
          coalesce(col(idCol).cast("string"), lit("NULL"))))).as("__id"),
      col(nameCol).as("__nm"))
    // deletion variants only when the name is non-empty —
    // sequence(1, 0) DESCENDS and would emit a spurious
    // empty-string variant (the collocations guard discipline)
    //
    // r15: the candidate join shuffles (key-hash, id) ONLY — a 4-byte
    // murmur3 of the variant plus the id, instead of (variant string,
    // id, full name) (guide §2.3/§8: shuffle keys, not payloads; the
    // hash is high-entropy and incompressible, so the narrowest hash
    // that keeps collisions rare wins). Hashing the variant key can
    // only ADD candidates (collisions) and the exact levenshtein
    // verify removes them, so the result is unchanged; names
    // re-attach to the deduped id pairs afterwards (ids are unique by
    // the operator's contract — `the` id column — so the attach is
    // 1:1).
    val variants = base.select(col("__id"),
      explode(array_union(array(col("__nm")),
        when(length(col("__nm")) >= 1,
          transform(sequence(lit(1), length(col("__nm"))),
            i => concat(col("__nm").substr(lit(1), i - 1),
              col("__nm").substr(i + 1,
                length(col("__nm")) - i))))
          .otherwise(array().cast("array<string>")))).as("__key"))
      // a NULL name is its own only key, and xxhash64(NULL) is the
      // seed: kept, every NULL-name row would pair with every other one.
      // The key is 64-bit so candidate collisions stay rare at scale
      // (pairs are verified by levenshtein after the join either way)
      .where(col("__key").isNotNull)
      .select(col("__id"), xxhash64(col("__key")).as("__kh"))
    // dedupe the UNORDERED id pair (lo < hi) so each candidate enters
    // the distinct once, then orient the emitted pair by NAME order
    // after the attach — the output contract (name_a < name_b)
    val cand = variants.select(col("__kh"), col("__id").as("lo"))
      .join(variants.select(col("__kh"), col("__id").as("hi")),
        Seq("__kh"))
      .where(col("lo") < col("hi"))
      .select("lo", "hi")
      .distinct()
    cand
      .join(base.select(col("__id").as("lo"),
        col("__nm").as("name_lo")), "lo")
      .join(base.select(col("__id").as("hi"),
        col("__nm").as("name_hi")), "hi")
      .where(col("name_lo") =!= col("name_hi") &&
        levenshtein(col("name_lo"), col("name_hi")) <= 1)
      .select(
        when(col("name_lo") < col("name_hi"), col("lo"))
          .otherwise(col("hi")).as("id_a"),
        when(col("name_lo") < col("name_hi"), col("hi"))
          .otherwise(col("lo")).as("id_b"),
        least(col("name_lo"), col("name_hi")).as("name_a"),
        greatest(col("name_lo"), col("name_hi")).as("name_b"))
  }
}
