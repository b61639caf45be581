package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, each designed
  * around Spark's shuffle model:
  *
  *  - exact: hash-groupBy on a 128-bit content fingerprint — ONE shuffle
  *    keyed on the digest (never on raw text; at 100 TB the shuffle
  *    payload is 16 bytes + id per row).
  *  - LSH near-dups, two families on ONE pair generator
  *    ([[lshPairs]]): a per-document pass yields (id, band keys,
  *    payload), one groupBy on (band, bucket) streams each bucket's
  *    pairs, and every candidate is verified inside the bucket that
  *    generates it — the O(n²) pair space becomes near-linear work.
  *    MinHash: shingles → signature → band digests, verified by exact
  *    shingle Jaccard. SimHash: one 64-bit sketch word per document
  *    ([[sketchWord]]), band keys cut from it ([[bandKey]]), verified
  *    by Hamming distance.
  *  - n-gram Jaccard: exact verification of LSH and prefix-filter
  *    candidates.
  *  - embedding cosine: near-dup by vector similarity (Similarity.scala
  *    kernel under a threshold).
  *
  * All hash primitives are md5-based so the DuckDB oracle can replay
  * them bit-for-bit.
  */
object Dedup {

  /** Word k-gram shingles of the token stream (distinct). Mirrors
    * DuckDB: list_distinct(list_transform(range(...), i -> ...)). */
  def shingles(c: Column, k: Int = 3): Column =
    array_distinct(shingleStream(c, k))

  /** Shingles WITHOUT the distinct — array_distinct is O(n²) string
    * compares per document and min()-based signatures are unaffected by
    * duplicates, so the minhash path skips it. Jaccard (set semantics)
    * must use [[shingles]]. */
  def shingleStream(c: Column, k: Int = 3): Column = {
    val toks = TextAnalysis.tokens(c)
    val n = size(toks)
    when(n < k, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), n - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** Tokenize + shingle in ONE tight loop — the hot-path twin of
    * [[shingleStream]]/[[shingles]]. The HOF expression form evaluates
    * slice+concat_ws per shingle with array copies and was the dominant
    * cost of the whole minhash pipeline (4 s of q24's 6 s at sf0.1,
    * measured); this kernel produces byte-identical shingles (same
    * split regex, same space join, same first-occurrence distinct), so
    * oracle parity is untouched. */
  private def tokensLocal(text: String): Array[String] =
    TextAnalysis.tokensLocal(text)

  /** Space-joined tokens [i, i+k). */
  private def joinTokens(toks: Array[String], i: Int, k: Int): String = {
    val sb = new StringBuilder(toks(i))
    var j = 1
    while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
    sb.result()
  }

  private def shingleArrayLocal(text: String, k: Int, distinct: Boolean): Array[String] = {
    val toks = tokensLocal(text)
    val out =
      if (toks.length < k) Array(toks.mkString(" "))
      else Array.tabulate(toks.length - k + 1)(i => joinTokens(toks, i, k))
    if (distinct) out.distinct else out
  }

  /** UDF column form of [[shingleArrayLocal]] with set semantics. */
  def shinglesFast(c: Column, k: Int = 3): Column = {
    val f = udf((t: String) => shingleArrayLocal(t, k, distinct = true))
    f(c)
  }

  /** Word n-grams in the n-gram-TABLE semantics — docs with fewer than
    * `n` tokens produce NONE (no whole-text fallback, unlike
    * [[shingleStream]]'s minhash contract). Same tight-loop kernel; the
    * HOF slice+concat_ws form it replaces was measured 4 s-of-6 s of
    * the minhash pipeline and the same construction dominated q54. */
  def ngramStreamFast(c: Column, n: Int): Column = {
    val f = udf { (t: String) =>
      val toks = tokensLocal(t)
      if (toks.length < n) Array.empty[String]
      else Array.tabulate(toks.length - n + 1)(i => joinTokens(toks, i, n))
    }
    f(c)
  }

  /** Consecutive `p`-token passages (tail partial included; empty-token
    * docs produce none) — the chunking kernel of
    * [[Corpus.passageDupStats]], same tight loop. */
  def passagesFast(c: Column, p: Int): Column = slidingChunksFast(c, p, 0)

  /** Number of sliding windows over `len` tokens: one starting every
    * `step`, last truncated at the end, none once a previous window
    * already reached it. For step == size this is exactly ⌈len/size⌉
    * (the non-overlapping passage count). */
  private def chunkCount(len: Int, size: Int, step: Int): Int =
    if (len == 0) 0 else 1 + math.max(0, (len - size + step - 1) / step)

  /** OVERLAPPING token windows (sliding chunks): `size`-token windows
    * starting every `size − overlap` tokens, last window truncated at
    * the end of the doc, and no window emitted once a previous one
    * already reached the end (so no chunk is fully contained in its
    * predecessor). Empty-token docs produce none. The RAG/LM
    * context-window layout; same tight loop as the other kernels.
    * [[passagesFast]] is the overlap=0 special case. */
  def slidingChunksFast(c: Column, size: Int, overlap: Int): Column = {
    require(size >= 1, s"size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap $overlap must be in [0, size=$size)")
    val step = size - overlap
    val f = udf { (t: String) =>
      val toks = tokensLocal(t)
      Array.tabulate(chunkCount(toks.length, size, step)) { i =>
        joinTokens(toks, i * step, math.min(size, toks.length - i * step))
      }
    }
    f(c)
  }

  /** (chunk, n_tokens) struct form of [[slidingChunksFast]]: the token
    * count comes from the kernel's own window arithmetic, not a
    * re-split of the string it just joined. */
  def slidingChunksWithCountsFast(c: Column, size: Int, overlap: Int): Column = {
    require(size >= 1, s"size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap $overlap must be in [0, size=$size)")
    val step = size - overlap
    val f = udf { (t: String) =>
      val toks = tokensLocal(t)
      Array.tabulate(chunkCount(toks.length, size, step)) { i =>
        val n = math.min(size, toks.length - i * step)
        (joinTokens(toks, i * step, n), n)
      }
    }
    f(c)
  }

  /** Mersenne prime modulus for the universal hash family. */
  val MinhashP: Long = 2147483647L

  /** (a_i, b_i) parameters of the universal hash family
    * h_i(v) = (a_i·v + b_i) mod P — fixed, engine-portable constants so
    * the DuckDB oracle replays signatures exactly. One md5 per shingle
    * (the 31-bit base value) + numHashes multiply-mods, instead of
    * numHashes md5 calls per shingle. */
  def minhashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (((i + 1) * 2654435761L) % MinhashP) | 1L
      val b = ((i + 1) * 40503L * 65537L) % MinhashP
      (a, b)
    }

  /** LSH banding calibration table — the design tool that picks
    * (bands, rows-per-band) BEFORE a 100 TB near-dup run: for every
    * divisor split b·r = `numHashes` and every similarity level s in
    * `sGrid`, the detection probability of the banded scheme,
    * P(candidate | sim = s) = 1 − (1 − s^r)^b, plus the band
    * threshold s50 = (1/b)^(1/r) where the S-curve crosses ~50%.
    * Wider bands (small r) catch low-similarity pairs but explode the
    * candidate count; this table is how that trade-off is chosen
    * against a recall target instead of folklore.
    *
    * Computed as Spark column arithmetic over an exploded literal
    * grid (|divisors|·|sGrid| rows — nothing scans), rounded to 6 dp
    * so the pow() calls stay oracle-comparable. */
  def lshCalibration(spark: org.apache.spark.sql.SparkSession,
                     numHashes: Int, sGrid: Seq[Double]): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(sGrid.nonEmpty && sGrid.forall(s => s > 0.0 && s < 1.0),
      s"sGrid must be inside (0,1), got $sGrid")
    val configs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => struct(lit(b).as("bands"),
        lit(numHashes / b).as("rows_per_band")))
    spark.range(1)
      .select(explode(array(configs: _*)).as("c"))
      .select(col("c.bands").as("bands"),
        col("c.rows_per_band").as("rows_per_band"))
      .select(lit(numHashes).as("n_hashes"), col("bands"),
        col("rows_per_band"),
        explode(array(sGrid.distinct.sorted.map(lit): _*)).as("s"))
      .withColumn("p_detect", round(lit(1.0) -
        pow(lit(1.0) - pow(col("s"), col("rows_per_band")), col("bands")), 6))
      .withColumn("s50",
        round(pow(lit(1.0) / col("bands"),
          lit(1.0) / col("rows_per_band")), 6))
      .orderBy("bands", "s")
  }

  /** MinHash signature as an array column: min over shingles of
    * h_i(hash31(shingle)) per hash function. Map-only. */
  def minhashSignature(c: Column, numHashes: Int = 16, k: Int = 3): Column = {
    val sh = shingles(c, k)
    val vals = transform(sh, s => TextAnalysis.tokenHash31(s))
    val sig = minhashParams(numHashes).map { case (a, b) =>
      array_min(transform(vals, v => (v * a + b) % MinhashP))
    }
    array(sig: _*)
  }

  /** Exact-duplicate groups on the normalized content fingerprint:
    * returns (keep_id, dup_count) per distinct content, keep_id = min id.
    * One shuffle, keyed on the 128-bit digest. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup keeping the BEST-scoring copy per content cluster —
    * production canonical selection (newest crawl, highest quality)
    * rather than [[exact]]'s min-id. Returns (fp, keep_id, keep_score,
    * dup_count) per distinct raw text. Still one hash agg, keyed on the
    * md5 digest: the arg-max is carried as a (score, -id) struct max,
    * which is associative/commutative (map-side combinable) and makes
    * the equal-score tie-break (min id) deterministic — no window, no
    * second shuffle. */
  def exactKeepBest(df: DataFrame, idCol: String, textCol: String,
                    scoreCol: String): DataFrame =
    df.select(md5(col(textCol).cast("binary")).as("fp"),
        col(idCol).cast(LongType).as("id"),
        col(scoreCol).cast(LongType).as("score"))
      .groupBy("fp")
      .agg(max(struct(col("score"), (-col("id")).as("nid"))).as("best"),
        count(lit(1)).as("dup_count"))
      .select(col("fp"), (-col("best.nid")).as("keep_id"),
        col("best.score").as("keep_score"), col("dup_count"))

  /** Soft deduplication (SoftDeDup-style): instead of DELETING
    * duplicates, every document gets a training-sampling weight
    * `dup_count^(-alpha)` over its exact-content cluster — alpha=1
    * makes each distinct content contribute unit mass however often it
    * was crawled, 0<alpha<1 lets genuinely popular content count
    * somewhat more. Keeps the corpus intact for loss-weighting
    * pipelines that down-weight rather than drop.
    *
    * Shape: project (id, digest) — text never leaves the scan — then
    * ONE count window partitioned by the digest (single shuffle of
    * 16-byte keys; no join-back needed because the window keeps every
    * row). Returns (id, dup_count, weight) per input row.
    *
    * Cross-engine note: alpha=1.0 (exact 1/c division) and alpha=0.5
    * (1/sqrt(c), correctly rounded in IEEE-754) are bit-portable to
    * the oracle; other alphas go through pow(), whose last ulp may
    * differ between libm implementations. */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String,
                       alpha: Double = 1.0): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    val w = Window.partitionBy(col("fp"))
    val c = count(lit(1)).over(w)
    val weight =
      if (alpha == 1.0) lit(1.0) / c
      else if (alpha == 0.5) lit(1.0) / sqrt(c)
      else pow(c, -alpha)
    df.select(col(idCol).as("id"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .select(col("id"), c.as("dup_count"), weight.as("weight"))
  }

  /** Rows surviving exact dedup (first id per content wins). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash-LSH candidate pairs (a < b): documents sharing at least one
    * band bucket, each pair once. Returns (id_a, id_b).
    *
    * Physical shape: ONE per-document pass (the [[minhashDoc]] kernel:
    * tokens, shingles, signature and band keys in one loop), then ONE
    * grouped shuffle on (band, bucket) in which every bucket streams
    * its pairs. A pair is emitted only in the FIRST band its two
    * documents share, so no `distinct` runs. Buckets are bit-identical
    * to the signature the DuckDB oracle replays.
    *
    * PRECONDITION (all dedup operators): one row per document id; rows
    * with a NULL id pair with nothing. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, bands: Int = 4, k: Int = 3): DataFrame =
    bucketPairs(df, idCol, textCol, numHashes, bands, k, minJaccard = None)

  /** The production near-dup pipeline: MinHash-LSH candidates verified
    * with exact n-gram Jaccard — all-pairs work never happens. Each
    * candidate is verified inside the bucket that generates it: the
    * band rows carry their document's sorted distinct shingle set, and
    * |A∩B| is one merge over the two sets, so the shingle stream is
    * never exploded, checkpointed or re-joined. jaccard =
    * |A∩B| / (|A| + |B| − |A∩B|), the same double as the prefix joins'
    * verification. Same precondition as [[minhashCandidates]]. */
  def lshJaccardDedup(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 16, bands: Int = 4, k: Int = 3,
                      minJaccard: Double = 0.8): DataFrame =
    bucketPairs(df, idCol, textCol, numHashes, bands, k, Some(minJaccard))

  /** One document's MinHash-LSH state: its `bands` bucket keys (raw md5
    * digests) and its `n` distinct shingles, ascending by UTF-8 bytes,
    * packed as (4-byte length, UTF-8 bytes) records. */
  private final class MinhashDoc(val keys: Array[Array[Byte]], val shingles: Array[Byte],
                                 val n: Int)

  /** Tokens, shingles, signature and band keys of one text in ONE pass.
    * Shingles follow [[shingleArrayLocal]] (NULL, empty and
    * shorter-than-k texts are one shingle), each shingle's base value is
    * [[TextAnalysis.tokenHash31]] (the first 28 bits of its md5), the
    * signature is [[minhashParams]]' min over the set, and band `b`'s key
    * is md5 of its `numHashes / bands` values joined by '|' — the
    * bucket the oracle computes, as raw bytes instead of hex. */
  private def minhashDoc(text: String, k: Int, a: Array[Long], b: Array[Long],
                         bands: Int, md: java.security.MessageDigest): MinhashDoc = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val sh = shingleArrayLocal(text, k, distinct = false).map(_.getBytes(utf8))
    java.util.Arrays.sort(sh, (x: Array[Byte], y: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(x, y))
    var n = 0
    for (s <- sh) if (n == 0 || !java.util.Arrays.equals(s, sh(n - 1))) { sh(n) = s; n += 1 }
    val set = sh.take(n)
    val packed = java.nio.ByteBuffer.allocate(set.map(_.length + 4).sum)
    val sig = Array.fill(a.length)(Long.MaxValue)
    for (s <- set) {
      packed.putInt(s.length).put(s)
      val d = md.digest(s)
      val v = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
      var i = 0
      while (i < sig.length) {
        val h = (v * a(i) + b(i)) % MinhashP
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    val r = a.length / bands
    val keys = Array.tabulate(bands) { band =>
      md.digest(sig.slice(band * r, band * r + r).mkString("|").getBytes(utf8))
    }
    new MinhashDoc(keys, packed.array(), n)
  }

  /** |A ∩ B| of two packed shingle sets ([[MinhashDoc]]): a merge that
    * compares the shingles' bytes. */
  private def mergeIntersect(x: Array[Byte], y: Array[Byte]): Int = {
    val (bx, by) = (java.nio.ByteBuffer.wrap(x), java.nio.ByteBuffer.wrap(y))
    var i = 0; var j = 0; var inter = 0
    while (i < x.length && j < y.length) {
      val (ei, ej) = (i + 4 + bx.getInt(i), j + 4 + by.getInt(j))
      val c = java.util.Arrays.compareUnsigned(x, i + 4, ei, y, j + 4, ej)
      if (c == 0) { inter += 1; i = ei; j = ej }
      else if (c < 0) i = ei
      else j = ej
    }
    inter
  }

  /** Shared body of the MinHash-LSH family: one [[minhashDoc]] pass
    * emits a (id, band keys, shingles, n) row per document and
    * [[lshPairs]] pairs them. With `minJaccard` set, the rows carry the
    * shingle sets and a pair is kept iff the two documents share a
    * shingle and its Jaccard reaches the threshold (a bucket shared
    * only through a 28-bit hash collision yields nothing, even at
    * minJaccard 0); without it, the pairs are returned unverified. */
  private def bucketPairs(df: DataFrame, idCol: String, textCol: String,
                          numHashes: Int, bands: Int, k: Int,
                          minJaccard: Option[Double]): DataFrame = {
    val idField = df.select(col(idCol)).schema.head
    val (a, b) = minhashParams(numHashes).toArray.unzip
    val docRow = StructType(Seq(
      StructField("id", idField.dataType, idField.nullable),
      StructField("keys", ArrayType(BinaryType, containsNull = false), nullable = false),
      StructField("sh", BinaryType, nullable = false),
      StructField("n", IntegerType, nullable = false)))
    val perDoc: Iterator[Row] => Iterator[Row] = rows => {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val d = minhashDoc(r.getString(1), k, a, b, bands, md)
        val sh = if (minJaccard.isDefined) d.shingles else Array.emptyByteArray
        // keys as a Seq, the form a decoded row holds: Spark may hand
        // this very Row to the generator's flatMap without a round trip
        Row(r.get(0), d.keys.toSeq, sh, d.n)
      }
    }
    val docs = df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions(perDoc)(Encoders.row(docRow))
    minJaccard match {
      case None => lshPairs(docs, Nil)((_, _) => Some(Row.empty))
      case Some(t) =>
        lshPairs(docs, Seq(StructField("jaccard", DoubleType))) { (x, y) =>
          val inter = mergeIntersect(x.getAs[Array[Byte]](2), y.getAs[Array[Byte]](2))
          val jac = inter.toDouble / (x.getInt(3).toLong + y.getInt(3) - inter)
          if (inter > 0 && jac >= t) Some(Row(jac)) else None
        }
    }
  }

  /** The one LSH pair generator of both near-dup families (MinHash and
    * SimHash). `docs` holds one row per document: (id, band keys,
    * payload...). A typed flatMap emits one (band, bucket, document)
    * row per band — never a Generate, whose inferred
    * `size(array(...)) > 0` filter would copy the per-document kernel
    * below it — and ONE groupBy on (band, bucket) hands each bucket,
    * sorted by id, to a lazy pair iterator (a bucket's rows are
    * buffered, its pairs are not). A pair (a < b) is emitted only at
    * the first band whose keys the two documents share, so no
    * `distinct` runs; NULL ids and same-id pairs are dropped. `score`
    * sees the two document rows and returns the pair's `measures`, or
    * None to drop it. Returns (id_a, id_b, measures...). */
  private def lshPairs(docs: DataFrame, measures: Seq[StructField])(
      score: (Row, Row) => Option[Row]): DataFrame = {
    val idField = docs.schema.head
    val keyType = docs.schema(1).dataType.asInstanceOf[ArrayType].elementType
    val bucketKey = StructType(Seq(
      StructField("band", IntegerType, nullable = false),
      StructField("bucket", keyType, nullable = false)))
    val bandRow = bucketKey.add("doc", docs.schema, nullable = false)
    val out = StructType(Seq(
      StructField("id_a", idField.dataType, idField.nullable),
      StructField("id_b", idField.dataType, idField.nullable)) ++ measures)
    val pairs: (Row, Iterator[Row]) => IterableOnce[Row] = (key, rows) => {
      val band = key.getInt(0)
      val m = rows.map(_.getStruct(2)).toArray
      val keys = m.map(_.getSeq[Any](1))
      def firstShared(i: Int, j: Int): Boolean =
        (0 until band).forall(e => !java.util.Objects.deepEquals(keys(i)(e), keys(j)(e)))
      Iterator.range(0, m.length).flatMap { i =>
        Iterator.range(i + 1, m.length).flatMap { j =>
          val (x, y) = (m(i), m(j))
          if (java.util.Objects.deepEquals(x.get(0), y.get(0)) || !firstShared(i, j)) None
          else score(x, y).map(s => Row.fromSeq(Seq(x.get(0), y.get(0)) ++ s.toSeq))
        }
      }
    }
    docs
      .flatMap((d: Row) =>
        if (d.isNullAt(0)) Iterator.empty
        else d.getSeq[Any](1).iterator.zipWithIndex.map { case (k, band) => Row(band, k, d) })(
        Encoders.row(bandRow))
      .groupBy("band", "bucket").as(Encoders.row(bucketKey), Encoders.row(bandRow))
      .flatMapSortedGroups(col("doc.id"))(pairs)(Encoders.row(out))
  }

  /** Exact |A∩B| per (id_a, id_b) candidate pair over the exploded
    * (id, shingle) stream — the shared verification kernel of the
    * prefix-filter joins (Jaccard and containment apply their own
    * measure on top). The joins re-read `sh` — callers checkpoint it. */
  private def candIntersections(sh: DataFrame, cand: DataFrame): DataFrame = {
    val shB = sh.select(col("id").as("__idb"), col("s").as("__sb"))
    cand
      .join(sh.select(col("id").as("id_a"), col("s")), "id_a")
      .join(shB, col("id_b") === col("__idb") && col("s") === col("__sb"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
  }

  /** Verification tail of the prefix-filter Jaccard join: exact
    * |A∩B| / |A∪B| for the candidate pairs only, filtered at
    * `minJaccard`. */
  private def verifyExactJaccard(sh: DataFrame, cand: DataFrame,
                                 minJaccard: Double): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    candIntersections(sh, cand)
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Shared input of the exact prefix-filter joins: the distinct
    * (id, shingle) stream (checkpointed — every consumer reads it
    * ≥ 2×), per-doc set sizes, and the stream ranked inside each doc by
    * ascending GLOBAL document frequency (ties by shingle text) — the
    * one total order both the Jaccard and the containment prefix
    * theorems quantify over. */
  private def rankedPrefixInput(df: DataFrame, idCol: String, textCol: String,
                                k: Int): (DataFrame, DataFrame, DataFrame) = {
    val sh = df.select(col(idCol).as("id"),
      explode(shinglesFast(col(textCol).cast("string"), k)).as("s"))
      .localCheckpoint()
    val freq = sh.groupBy("s").agg(count(lit(1)).as("__df"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val wRank = Window.partitionBy("id").orderBy(col("__df"), col("s"))
    val ranked = sh.join(freq, "s").join(sizes, "id")
      .withColumn("__rn", row_number().over(wRank))
    (sh, sizes, ranked)
  }

  /** τ·x shaved by a relative epsilon: double arithmetic can overshoot
    * an exactly-reached integer boundary by one ulp
    * (0.55·100 = 55.000000000000007), which would shorten a prefix or
    * trip a size filter and DROP a true exact-threshold pair. The
    * relaxation only ever ADMITS extra candidates; exact verification
    * prunes them, so completeness is preserved. ONE definition for
    * every prefix-filter operator. */
  private def relaxedTau(tau: Double, x: Column): Column = {
    val t = lit(tau) * x
    t - t * lit(1e-12)
  }

  /** EXACT Jaccard similarity self-join via prefix filtering (the
    * AllPairs/PPJoin family, Bayardo et al., WWW'07): every pair (a<b)
    * of documents whose k-shingle sets have Jaccard ≥ `minJaccard` —
    * with NO false negatives, unlike the MinHash-LSH path. The result
    * set is bit-identical to brute force; only the candidate-generation
    * strategy changes, so the oracle can verify it with an all-pairs
    * plan while this side never materializes the O(n²) pair space.
    *
    * Prefix theorem: fix ONE global total order on shingles (here:
    * ascending document frequency, ties by shingle text — rare-first
    * makes prefixes maximally selective). If J(a,b) ≥ τ, then the first
    * `|x| − ⌈τ·|x|⌉ + 1` shingles of each side (in that order) must
    * share at least one shingle — so candidates come from an equi-join
    * on prefix shingles only. A frequency-ordered prefix join is
    * near-linear on real corpora: the long head of common shingles
    * never enters any prefix, and each rare shingle's bucket is tiny.
    *
    * Physical shape: ONE shingle pass (localCheckpointed, shared by
    * ranking and verification), one narrow (shingle)-keyed document-
    * frequency agg, a per-document rank window (parallel across docs;
    * per-doc shingle counts are doc-length-bounded), the prefix-shingle
    * equi-join with the τ-size-ratio pruning filter
    * (τ·|b| ≤ |a| ≤ |b|/τ is necessary for J ≥ τ), then the shared
    * exact verification on candidates only. Shuffle payloads: shingle
    * strings (k tokens) + ids — never documents. */
  def jaccardJoinPrefix(df: DataFrame, idCol: String, textCol: String,
                        minJaccard: Double, k: Int = 3): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val (sh, _, ranked) = rankedPrefixInput(df, idCol, textCol, k)
    val prefix = ranked
      .filter(col("__rn") <=
        col("sz") - ceil(relaxedTau(minJaccard, col("sz"))).cast("long") + 1)
      .select(col("id"), col("s"), col("sz"))
    val cand = prefix.as("l").join(prefix.as("r"),
        col("l.s") === col("r.s") && col("l.id") < col("r.id"))
      .filter(relaxedTau(minJaccard, col("r.sz")) <= col("l.sz") &&
        relaxedTau(minJaccard, col("l.sz")) <= col("r.sz"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    verifyExactJaccard(sh, cand, minJaccard)
  }

  /** Size-routed Jaccard similarity self-join — the q194/q195 twin
    * pattern applied to the set-similarity family. At or below
    * `maxExactDocs` this is [[jaccardJoinPrefix]]: EXACT AllPairs, no
    * false negatives, the oracle ground truth. Above the gate it
    * auto-routes to [[lshJaccardDedup]] (MinHash-LSH candidates +
    * exact verification — the q24 machinery): per-pair recall
    * 1−(1−s^r)^b rather than 1, but candidate volume near-linear in
    * the corpus instead of the exact filter's worst case. The r13
    * full-suite sf1 run measured the exact route ×7.7 at data ×10 on
    * a rotation-disjoint corpus — linear-work saturation, not a
    * quadratic trap (candidates provably grew ×10), but a corpus 100×
    * wider pays the same cliff, and this router is what makes it
    * unreachable: production callers get the banded route past the
    * gate while the exact kernel stays the ≤N ground truth. Both
    * routes END in an exact verification with the same formula, so
    * every emitted pair's jaccard value is exact; only recall differs, and
    * only above the gate. Exact-duplicate pairs (J = 1) have
    * identical MinHash signatures, hence identical band buckets —
    * they are detected with probability 1 on BOTH routes (the
    * route-parity anchor the boundary spec asserts). Banding default
    * is rows-per-band r = 2 over b = 8 bands (vs q24's r = 4 / b = 4
    * candidate generator): per-pair detection 1−(1−s²)⁸ ≈ 0.9997 at
    * s = 0.8 — measured 4 misses / 2615 true pairs at r = 4 / b = 4
    * on the 10× corpus vs ~0 at r = 2 — at the price of more random
    * band collisions (s² vs s⁴ per band), which the exact verify
    * absorbs. */
  def jaccardJoinAuto(df: DataFrame, idCol: String, textCol: String,
                      minJaccard: Double, k: Int = 3,
                      maxExactDocs: Long = 8192L,
                      numHashes: Int = 16, bands: Int = 8): DataFrame = {
    // LIMIT-bounded route probe (the hammingTopKAuto discipline): the
    // gate must never silently route a corpus larger than the
    // threshold to the exact kernel
    val n =
      if (maxExactDocs < Int.MaxValue - 1L)
        df.limit(maxExactDocs.toInt + 1).count()
      else df.count()
    if (n <= maxExactDocs) jaccardJoinPrefix(df, idCol, textCol, minJaccard, k)
    else lshJaccardDedup(df, idCol, textCol, numHashes, bands, k, minJaccard)
  }

  /** EXACT containment self-join via the ASYMMETRIC prefix filter:
    * every ORDERED pair (a, b), a ≠ b, with
    * C(a in b) = |A∩B| / |A| ≥ `minContainment` — the relation Jaccard
    * structurally misses: a tweet-sized document pasted inside a long
    * page has tiny Jaccard but containment ≈ 1, and quote/boilerplate
    * inclusion is exactly what a crawl-dedup pass needs to see. No
    * false negatives; result bit-identical to brute force (the oracle
    * replays all-pairs), only candidate generation changes.
    *
    * Asymmetric prefix theorem: with one global shingle order
    * (ascending document frequency, ties by text), C(a in b) ≥ τ means
    * a misses at most (1−τ)·|A| shingles from B, so among the first
    * |A| − ⌈τ·|A|⌉ + 1 shingles of a (the SAME prefix length as the
    * Jaccard filter) at least one is in B — but B contributes its FULL
    * set to the join (containment puts no prefix on the containing
    * side, and no upper size bound either; the only size pruning is
    * |B| ≥ τ·|A|). Prefix side stays tiny for near-1 thresholds;
    * frequency ordering keeps common-shingle buckets out of it.
    * Shuffle payloads: shingles + ids, never documents. */
  def containmentJoinPrefix(df: DataFrame, idCol: String, textCol: String,
                            minContainment: Double, k: Int = 3): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0, 1], got $minContainment")
    val (sh, sizes, ranked) = rankedPrefixInput(df, idCol, textCol, k)
    val prefixA = ranked
      .filter(col("__rn") <=
        col("sz") - ceil(relaxedTau(minContainment, col("sz"))).cast("long") + 1)
      .select(col("id").as("id_a"), col("s"), col("sz").as("sz_a"))
    val fullB = ranked.select(col("id").as("id_b"), col("s"), col("sz").as("sz_b"))
    val cand = prefixA.join(fullB,
        prefixA("s") === fullB("s") && col("id_a") =!= col("id_b"))
      .filter(relaxedTau(minContainment, col("sz_a")) <= col("sz_b"))
      .select("id_a", "id_b")
      .distinct()
    candIntersections(sh, cand) // exact |A∩B| / |A| on candidates only
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .withColumn("containment", col("inter").cast("double") / col("sz_a"))
      .filter(col("containment") >= minContainment)
      .select("id_a", "id_b", "containment")
  }

  /** SimHash near-duplicates within Hamming distance `maxDist` — the
    * tolerance-based form of the exact-sketch-match dedup. Each
    * document's `nBits`-bit sketch is one long ([[sketchWord]]), split
    * into `bands` contiguous blocks ([[bandKey]]); any pair within
    * Hamming distance < `bands` agrees exactly on ≥ 1 block
    * (pigeonhole), so candidates come from the (band, block) buckets of
    * the shared generator [[lshPairs]] — never an all-pairs scan — and
    * each is verified inside its bucket by popcount(xor). For
    * `maxDist` ≥ `bands` the block guarantee weakens to LSH-style
    * recall; the verification stays exact either way. Returns
    * (id_a, id_b, dist), a < b, each pair once.
    *
    * Width matters at scale: the pigeonhole guarantee holds at ANY band
    * width, so wider keys are free recall-wise and directly divide the
    * candidate volume. 16 bits in 4 bands leaves 4-bit keys — 16
    * buckets per band, saturated by a few hundred docs (measured 24 s
    * at 5.5 k docs); 32 bits gives 8-bit keys (256 buckets/band) whose
    * random-collision candidate count still grows ~4·n²/256 — quadratic
    * at 100× corpus scale. The 64-bit default (also the maximum: one
    * word) leaves 16-bit keys (65,536 buckets per band): random band
    * collisions stay ~linear until n approaches millions of docs per
    * content cluster, which is the regime where the docs genuinely ARE
    * near-dups. Shuffle rows: `bands` per doc, each an id, the word and
    * its band keys.
    *
    * PRECONDITION (all dedup operators): one row per document id; rows
    * with a NULL id pair with nothing. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxDist: Int = 3, nBits: Int = 64,
                     bands: Int = 4): DataFrame = {
    require(nBits <= 64, s"simhashNearDup keeps one 64-bit sketch word: nBits $nBits > 64")
    hammingPairs(sketchTable(df, idCol, textCol, nBits), maxDist, nBits, bands)
  }

  /** Near-dup decontamination: remove from `train` every document
    * within Hamming distance `maxDist` of ANY `test` document's sketch
    * — the paraphrase-tolerant layer the exact [[decontaminate]] (and
    * its bloom form) cannot provide. Both corpora sketch map-only;
    * candidates come from a train×test band join ([[nearSketchIds]]:
    * never a self-join, never all-pairs — same pigeonhole recall as
    * [[simhashNearDup]] for maxDist < bands), verified by popcount;
    * matched train ids anti-join away. Test-side ids are irrelevant
    * (only its sketches matter), so `test` needs just the text
    * column. */
  def decontaminateNearDup(train: DataFrame, trainId: String,
                           test: DataFrame, textCol: String,
                           maxDist: Int = 3, nBits: Int = 64,
                           bands: Int = 4): DataFrame = {
    val contaminated = nearSketchIds(sketchTable(train, trainId, textCol, nBits),
      test.select(sketchWord(col(textCol), nBits).as("h")), maxDist, nBits, bands)
    train.join(contaminated.withColumnRenamed("id", trainId), Seq(trainId), "left_anti")
  }

  /** Persistable sketch table (id, h) — the state [[admitIncremental]]
    * tests new shards against. Write it once per corpus snapshot (and
    * append each admitted shard's sketches); daily admissions then
    * never touch historical TEXT at all — the table is one long per
    * document. nBits ≤ 64 (one word). */
  def sketchTable(df: DataFrame, idCol: String, textCol: String,
                  nBits: Int = 64): DataFrame =
    df.select(col(idCol).as("id"), sketchWord(col(textCol), nBits).as("h"))

  /** One-word SimHash sketch as a pure Column expression — the sketch
    * of every SimHash route (batch, sketch table, streams): no state,
    * no UDF-side driver dependence. Declared non-null (the kernel maps
    * a NULL text to the all-zero word and never yields NULL): a
    * nullable word lets a join on it infer `isnotnull(h)` and push that
    * filter below the sketch projection, running the md5-per-token
    * kernel twice per row. */
  private[graft] def sketchWord(text: Column, nBits: Int): Column = {
    require(nBits >= 1 && nBits <= 64, s"nBits $nBits outside 1..64")
    coalesce(bitsToLong(TextAnalysis.simHashRow(text.cast("string"), nBits), nBits), lit(0L))
  }

  /** Band `b`'s key: the `b`-th contiguous MSB-first block of
    * `nBits / bands` bits of a sketch word — the one band-key
    * definition of every SimHash route, so text routes and sketch-table
    * routes always agree. */
  private[graft] def bandKey(h: Column, nBits: Int, bands: Int, b: Int): Column = {
    require(nBits % bands == 0, s"bands $bands must divide nBits $nBits")
    val bandBits = nBits / bands
    // bands == 1: the key IS the word. The masked form would compute
    // (1L << 64) - 1 = 0 (Scala shifts mod 64) and zero every key —
    // silently admitting near-dups of the prior corpus.
    if (bandBits == 64) h
    else shiftrightunsigned(h, nBits - (b + 1) * bandBits)
      .bitwiseAND(lit((1L << bandBits) - 1L))
  }

  /** Incremental near-dup ADMISSION — the daily-append production
    * shape: sketch ONLY the incoming shard (once: the md5-per-token
    * sketch is the dominant map cost, so its (id, word) frame is
    * pinned), reject anything within Hamming `maxDist` of the persisted
    * PRIOR sketch table ([[sketchTable]] — history is never re-read,
    * let alone re-sketched; [[nearSketchIds]] joins on band keys cut
    * from the stored word), then collapse the shard's internal
    * near-dups ([[lshPairs]] over the surviving sketches) to their
    * lowest id (pairs → connected components, the [[dedupCorpus]]
    * tail). Returns the admitted incoming rows; append
    * `sketchTable(admitted)` to the prior table for the next shard.
    * Same pigeonhole recall as [[simhashNearDup]] (guaranteed for
    * maxDist < bands). Shuffle volume: O(|shard| · bands) keyed longs
    * against the prior table's banded longs — independent of corpus
    * TEXT size. */
  def admitIncremental(incoming: DataFrame, idCol: String, textCol: String,
                       priorSketches: DataFrame, maxDist: Int = 3,
                       nBits: Int = 64, bands: Int = 4,
                       ccRounds: Int = 3): DataFrame = {
    require(nBits <= 64, s"incremental admission keeps one word: nBits $nBits > 64")
    val sk = sketchTable(incoming, idCol, textCol, nBits).localCheckpoint()
    val hit = nearSketchIds(sk, priorSketches, maxDist, nBits, bands)
    val pairs = hammingPairs(sk.join(hit, Seq("id"), "left_anti"), maxDist, nBits, bands)
    val fresh = incoming.join(hit.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    keepRepresentatives(fresh, idCol, pairs, ccRounds)
  }

  /** MSB-first '0'/'1' string (≤ 64 chars) → signed 64-bit word, via
    * the native in-place decode ([[graft.expressions.RadixSliceLong]]):
    * the fold's natural wrap into the sign bit at 64 chars IS the
    * two's-complement word the pre-r17 form assembled from two 32-bit
    * conv halves (value parity pinned in RadixSliceLongSpec). */
  private def bitsToLong(bits: Column, width: Int): Column =
    graft.expressions.Kernels.binSliceLong(bits, 1, width)

  /** Pairs (id_a, id_b, dist) of a sketch frame (id, h) within Hamming
    * `maxDist`: [[lshPairs]] over the [[bandKey]] buckets, verified by
    * popcount(xor) inside the bucket. */
  private def hammingPairs(sk: DataFrame, maxDist: Int, nBits: Int,
                           bands: Int): DataFrame = {
    val keys = (0 until bands).map(b => bandKey(col("h"), nBits, bands, b))
    lshPairs(sk.select(col("id"), array(keys: _*).as("keys"), col("h")),
        Seq(StructField("dist", IntegerType, nullable = false))) { (x, y) =>
      val d = java.lang.Long.bitCount(x.getLong(2) ^ y.getLong(2))
      if (d <= maxDist) Some(Row(d)) else None
    }
  }

  /** Distinct ids of the sketch frame `sk` (id, h) within Hamming
    * `maxDist` of ANY sketch in `other` (h): the cross-corpus band join
    * of the SimHash routes, both sides keyed by [[bandKey]]. */
  private def nearSketchIds(sk: DataFrame, other: DataFrame, maxDist: Int,
                            nBits: Int, bands: Int): DataFrame = {
    def banded(d: DataFrame, cols: Column*): DataFrame =
      d.select(cols :+ explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          bandKey(col("h"), nBits, bands, b).as("key"))): _*)).as("bk"): _*)
    val l = banded(sk, col("id"), col("h"))
    val r = banded(other, col("h").as("__oh"))
    l.join(r, l("bk") === r("bk"))
      .filter(bit_count(col("h").bitwiseXOR(col("__oh"))) <= maxDist)
      .select(col("id")).distinct()
  }

  /** Train/test decontamination: remove from `train` every document
    * whose exact content fingerprint appears in `test` (benchmark /
    * eval-set leakage). A left-anti join on the digest — at scale the
    * (small) eval-set fingerprint side broadcasts, so the training
    * corpus never shuffles. Near-dup contamination (paraphrased eval
    * rows) composes the same way from [[simhashNearDup]]-style pairs
    * over the unioned corpus; the exact form is the standard first
    * line of defense. */
  def decontaminate(train: DataFrame, test: DataFrame,
                    textCol: String): DataFrame = {
    val testFp = test
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct()
    train
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(broadcast(testFp), col("__fp") === testFp("fp"), "left_anti")
      .drop("__fp")
  }

  /** [[decontaminate]] with the eval-set membership carried as a
    * BLOOM FILTER instead of a broadcast join side: the test corpus's
    * fingerprints build one sketch (`expectedItems`/`fpp` sized), and
    * the training corpus filters MAP-SIDE against the broadcast bits —
    * no join at all, so repeated decontamination passes (every
    * training-data refresh, every new shard) never re-shuffle
    * anything. The price is the documented false-positive rate: up to
    * `fpp` of CLEAN documents are over-removed (never the reverse —
    * Bloom filters have no false negatives, so every true leak is
    * caught). The bound assumes `expectedItems` ≥ the eval set's true
    * cardinality — an undersized filter saturates and over-removes far
    * beyond `fpp`, so size it from a count (or generously; bits are
    * cheap: 10M items at 0.1% ≈ 17 MB). Use the exact
    * [[decontaminate]] when over-removal must be zero; use this when
    * the eval set is large enough that even its digest table is worth
    * compressing to bits. */
  def decontaminateBloom(train: DataFrame, test: DataFrame,
                         textCol: String, expectedItems: Long,
                         fpp: Double = 0.001): DataFrame = {
    require(expectedItems > 0, s"expectedItems must be > 0, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp $fpp outside (0,1)")
    val bloom = test
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .stat.bloomFilter("fp", expectedItems, fpp)
    val bloomB = train.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: String) => fp != null && bloomB.value.mightContain(fp))
    train
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .filter(!mightContain(col("__fp")))
      .drop("__fp")
  }

  /** End-to-end near-dup corpus dedup: sketch → candidate pairs →
    * connected components → keep ONE representative (the minimum id,
    * up to the bounded-round refinement of
    * [[Graph.minLabelPropagation]]) per cluster. Docs in no pair pass
    * through untouched (they never enter the label frame, so the
    * anti-join keeps them for free). This is the piece most "dedup"
    * implementations skim over: dropping `id_b` of every pair
    * over-deletes when B also pairs with C — components fix that.
    * Cost: the pair generation dominates; the CC adds `2·rounds` keyed
    * shuffles over |pairs|-bounded frames. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  maxDist: Int = 3, rounds: Int = 3): DataFrame =
    keepRepresentatives(df, idCol,
      simhashNearDup(df, idCol, textCol, maxDist), rounds)

  /** Shared tail of the corpus-dedup forms: connected components over
    * the pair set, drop every non-minimum member. Docs in no pair never
    * enter the label frame, so the anti-join keeps them for free. */
  private def keepRepresentatives(df: DataFrame, idCol: String,
                                  pairs: DataFrame, rounds: Int): DataFrame = {
    val drop = Graph.minLabelPropagation(pairs, "id_a", "id_b", rounds)
      .filter(col("lbl") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Strip boilerplate lines from every document (C4/RefinedWeb-style
    * corpus cleaning): lines occurring in ≥ `minDocs` distinct docs are
    * removed; remaining lines are reassembled in original order.
    * Two shuffles, both keyed on md5(line): the boilerplate census and
    * the left-anti join of the line stream against it; reassembly
    * shuffles one (id)-keyed row per kept line. No driver-side state —
    * the boilerplate set itself stays distributed. */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       minDocs: Long): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line").cast("binary")))
    val bp = lines
      .groupBy("lh").agg(count_distinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("lh")
    lines.join(bp, Seq("lh"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("text_clean"),
        count(lit(1)).as("n_kept"))
      // docs whose every line was boilerplate drop out of the anti-join
      // stream entirely — reattach them with empty text
      .join(df.select(col(idCol).as("id"),
          size(split(col(textCol), "\n")).cast("long").as("n_lines")),
        Seq("id"), "right")
      .select(col("id"), coalesce(col("text_clean"), lit("")).as("text_clean"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Chunk-level dedup REWRITE — first-occurrence-wins over the
    * corpus's non-overlapping `chunkTokens`-token chunks: every chunk
    * whose fingerprint already occurred at a lexicographically smaller
    * (doc, position) is deleted, and each document's surviving chunks
    * are re-joined in order. This is the span-removal transform of
    * exact-substring training-data dedup (the chunk-granular form of
    * Lee et al. 2022's "Deduplicating Training Data Makes Language
    * Models Better" — drop the REPEATED span, keep its first copy),
    * where [[graft.ops.Corpus.passageDupStats]] only reports the
    * duplication rate.
    *
    * Chunks come from [[passagesFast]] (tail partial included; docs
    * with no tokens produce none and survive with empty text).
    * Repeats WITHIN one document dedup too (only the smallest
    * position survives). Returns (id, n_chunks, n_kept, text_clean).
    *
    * Shape: chunks are fingerprinted to md5 digests at the scan; the
    * owner-election groupBy ships (fp, id, idx) only — never chunk
    * text; the winners join back fp-keyed; the per-doc rebuild is one
    * collect_list agg keyed on the doc (text rides exactly one
    * shuffle, unavoidable for a rewrite). No windows, no driver
    * state. */
  def chunkDedupRewrite(df: DataFrame, idCol: String, textCol: String,
                        chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    // null ids are excluded up front: a null id cannot anchor a stable
    // (doc, position) ownership claim — it sorts FIRST in the
    // min(struct(id, idx)) election, so one null-id row would silently
    // steal ownership of every chunk it shares, and the row itself has
    // no usable identity for the per-doc rebuild
    val in = df.filter(col(idCol).isNotNull)
    val chunks = in
      .select(col(idCol).as("id"),
        posexplode(passagesFast(col(textCol).cast("string"), chunkTokens)))
      .select(col("id"), col("pos").as("idx"), col("col").as("chunk"),
        md5(col("col").cast("binary")).as("fp"))
      .localCheckpoint() // feeds the owner election AND the join-back
    val owners = chunks
      .groupBy("fp").agg(min(struct(col("id"), col("idx"))).as("o"))
    val kept = chunks.join(owners, Seq("fp"))
      .filter(struct(col("id"), col("idx")) === col("o"))
    kept.groupBy("id")
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("text_clean"),
        count(lit(1)).as("n_kept"))
      .join(chunks.groupBy("id").agg(count(lit(1)).as("n_chunks")), Seq("id"), "right")
      .join(in.select(col(idCol).as("id")).distinct(), Seq("id"), "right")
      .select(col("id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }
}
