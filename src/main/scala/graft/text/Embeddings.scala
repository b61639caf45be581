package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast

/** Tokenization + token-embedding layer.
  *
  * The reference tokenizes with gensim `simple_preprocess` (lowercase,
  * alphabetic tokens, length 2–15; `Latanova_v1.py:48`) and looks
  * tokens up in a FastText model that is NOT in the repo
  * (`Latanova_v1.py:19` — the artifact `fasttext_lee_background` is
  * absent, SURVEY.md §6). The embedding layer here is therefore
  * pluggable: the default is a deterministic seeded hash embedding
  * (every token maps to a reproducible unit-scaled vector), so golden
  * tests are stable and no model artifact is needed. A real vectors
  * table (word → Array[Float]) can be supplied instead.
  */
object Tokenize {

  /** Codegen'd column expression: gensim-simple_preprocess-like.
    * Lowercase, split on non-letters, keep tokens of length 2–15.
    * Digit-only tokens are dropped — matching the reference's behavior
    * where phone-ish strings vectorize to all-zeros (SURVEY.md §2.5). */
  def tokens(c: Column): Column =
    filter(
      split(lower(c.cast("string")), "[^a-z]+"),
      t => length(t) >= 2 && length(t) <= 15)

  /** Same tokenizer for driver-side strings (tests, decode). */
  def tokensLocal(s: String): Seq[String] =
    s.toLowerCase.split("[^a-z]+").toSeq.filter(t => t.length >= 2 && t.length <= 15)
}

/** Deterministic hash embeddings: token → R^dim via FNV-1a, uniform in
  * [-1, 1). Stand-in for the missing FastText artifact; same role as
  * `model.wv[token]` (`Latanova_v1.py:50-54`) but reproducible. */
object HashEmbeddings {
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }
  /** Component j of token's vector, uniform in [-1, 1). */
  def component(token: String, j: Int, seed: Long): Double = {
    val h = fnv1a64(s"$seed#$token#$j")
    // top 53 bits → [0,1) → [-1,1)
    ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
  }
  def vector(token: String, dim: Int, seed: Long): Array[Double] = {
    val a = new Array[Double](dim)
    var j = 0
    while (j < dim) { a(j) = component(token, j, seed); j += 1 }
    a
  }
}

/** Anything that maps a token to a fixed-width vector on an executor.
  * Implementations must be cheap to broadcast — either a bounded table
  * or a pure function of the token. */
trait Embedder extends Serializable {
  def dim: Int
  def lookup(token: String): Array[Double]
}

/** Embedding model carried to executors: either hash-based (no state)
  * or an explicit vectors table. `lookup` never fails — OOV falls back
  * to the hash vector (the reference used `np.random.randn`,
  * `Latanova_v1.py:53`; deterministic here). */
final case class EmbeddingModel(
    dim: Int,
    seed: Long,
    table: Map[String, Array[Double]] = Map.empty) extends Embedder {
  def lookup(token: String): Array[Double] =
    table.getOrElse(token, HashEmbeddings.vector(token, dim, seed))
}

/** Pure-function md5 embeddings: component j of a token's vector is
  * the first 7 hex digits of md5("token#j"), scaled to [-1, 1).
  * Engine-portable (the DuckDB oracle replays it digit-by-digit via
  * instr) and entirely STATELESS — executors derive any token's vector
  * on demand, so a corpus-scale vocabulary never has to be collected,
  * broadcast, or even enumerated. */
final case class Md5Embedder(dim: Int) extends Embedder {
  def lookup(token: String): Array[Double] =
    Array.tabulate(dim)(j => Md5Embedder.component(s"$token#$j"))
}

object Md5Embedder {
  /** First 7 hex digits of md5(s) → 28-bit int → uniform [-1, 1).
    * The 28-bit value is read straight off the first 3.5 digest bytes
    * (hex digit k = nibble k, high nibble of each byte first) — no hex
    * string on this per-(token, dim) executor hot path. */
  def component(s: String): Double = {
    val d = graft.Digests.md5(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xff) << 20) | ((d(1) & 0xff) << 12) |
      ((d(2) & 0xff) << 4) | ((d(3) & 0xff) >>> 4)
    v.toDouble / 268435456.0 * 2.0 - 1.0
  }
}

object EmbeddingModel {
  /** Driver-Map vocabulary bound for [[fromDataFrame]]: 500k words ×
    * 100 dims ≈ 400 MB of doubles before Map overhead — the most a
    * default driver heap should ever be asked to hold. Real published
    * sets run far larger (2M words × 300 dims ≈ 4.8 GB), which is
    * exactly what the bound refuses: past it, keep the table
    * distributed and vectorize by join ([[Vectorize.vectorizeJoin]]). */
  val DefaultMaxWords: Int = 500000

  /** Load a real vectors table — the pluggable replacement for the
    * reference's unpublished FastText artifact (`Latanova_v1.py:19`,
    * SURVEY.md §2.1): a (word string, vector array) DataFrame, e.g.
    * `ml.feature.Word2Vec.getVectors` or a parsed vectors file.
    * OOV still falls back to the deterministic hash vector.
    *
    * The collect is BOUNDED: at most `maxWords + 1` rows ever reach
    * the driver (a LIMIT probe, the auto-gate discipline), and a
    * table past the bound fails fast with the distributed
    * alternative named — never an unbounded driver materialization
    * ([[Embedder]]'s "bounded table or pure function" contract,
    * enforced here rather than assumed). */
  def fromDataFrame(vectors: org.apache.spark.sql.DataFrame,
                    wordCol: String, vecCol: String, seed: Long = 42L,
                    maxWords: Int = DefaultMaxWords): EmbeddingModel = {
    import org.apache.spark.sql.functions._
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    require(maxWords < Int.MaxValue, "maxWords must leave room for the +1 probe")
    val rows = vectors.select(col(wordCol).cast("string"),
        transform(col(vecCol), _.cast("double")))
      .limit(maxWords + 1).collect()
    require(rows.length <= maxWords,
      s"vectors table exceeds maxWords=$maxWords: the driver-Map embedder is for BOUNDED " +
        "vocabularies (words × dim × 8 bytes of driver heap, plus Map overhead). Raise " +
        "maxWords explicitly only if the driver affords it; otherwise keep the table " +
        "distributed and vectorize by join (Vectorize.vectorizeJoin), or use a stateless " +
        "embedder (Md5Embedder / SubwordEmbedder).")
    val table = rows.map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val dim = table.headOption.map(_._2.length).getOrElse(0)
    require(dim > 0, "vectors table is empty")
    require(table.values.forall(_.length == dim), "inconsistent vector dims")
    EmbeddingModel(dim, seed, table)
  }
}

/** Reader for the public word2vec / fastText TEXT vector format
  * (`.vec`): optional header line `"<n> <dim>"`, then one
  * `"word v1 v2 ... v<dim>"` row per line, whitespace-separated —
  * the format `fasttext print-word-vectors` / gensim
  * `save_word2vec_format(binary=False)` emit. This is the file-level
  * ingestion path for the reference's model-artifact load
  * (`Latanova_v1.py:19` loads a gensim FastText model; a user brings
  * the published `.vec` export of the same model here).
  *
  * The parse is fully distributed: `spark.read.text` splits the file
  * across executors and every row parses in a codegen'd
  * split/slice/cast pipeline — a 10 GB vector file never funnels
  * through the driver. Only the dim probe reads one line. */
object VecFormat {

  /** Parse `.vec` at `path` into a (word string, vector array<double>)
    * DataFrame. Rows whose field count doesn't match the detected dim
    * (the header, blank lines, corrupt rows) are dropped. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
      .select(split(trim(col("value")), "\\s+").as("p"))
      .filter(size(col("p")) >= 2)
    // dim: from the "<n> <dim>" header when present (both fields
    // integers), else first data row's field count - 1 (GloVe-style
    // headerless files)
    val header = lines
      .filter(size(col("p")) === 2 &&
        element_at(col("p"), 1).cast("int").isNotNull &&
        element_at(col("p"), 2).cast("int").isNotNull)
      .select(element_at(col("p"), 1).cast("int"),
        element_at(col("p"), 2).cast("int"))
      .take(1)
    val dim =
      if (header.nonEmpty) header(0).getInt(1)
      else lines.select(size(col("p"))).take(1)(0).getInt(0) - 1
    require(dim > 0, s"could not detect vector dimension in $path")
    val rows = lines.filter(size(col("p")) === dim + 1 &&
      element_at(col("p"), 2).cast("double").isNotNull)
    // dim=1 corner: the 2-field header itself matches the data-row
    // shape — drop the row whose raw fields equal the header exactly
    val dataRows =
      if (dim == 1 && header.nonEmpty)
        rows.filter(!(element_at(col("p"), 1) === header(0).getInt(0).toString &&
          element_at(col("p"), 2) === header(0).getInt(1).toString))
      else rows
    dataRows
      .select(element_at(col("p"), 1).as("word"),
        transform(slice(col("p"), 2, dim), _.cast("double")).as("vector"))
  }

  /** One-call form: `.vec` file → broadcastable [[EmbeddingModel]].
    * Bounded by `maxWords` ([[EmbeddingModel.fromDataFrame]]'s
    * contract — fails fast past the bound instead of OOMing the
    * driver; vocabularies above it stay distributed via
    * [[VecFormat.read]] + [[Vectorize.vectorizeJoin]]). */
  def load(spark: SparkSession, path: String, seed: Long = 42L,
           maxWords: Int = EmbeddingModel.DefaultMaxWords): EmbeddingModel =
    EmbeddingModel.fromDataFrame(read(spark, path), "word", "vector", seed, maxWords)
}

/** FastText-style subword OOV composition (Bojanowski et al. 2017):
  * an out-of-vocabulary token embeds as the MEAN of its character
  * n-gram vectors (n in [minn, maxn], over the boundary-marked form
  * `<token>`) — the mechanism gensim FastText applies at
  * `Latanova_v1.py:50`'s `model.wv[token]` for unseen words. A `.vec`
  * export carries no n-gram matrix, so the gram vectors here come
  * from the deterministic hash embedding at the model's seed; swap in
  * a gram table to mirror a full `.bin` model. In-vocabulary tokens
  * return their table vector unchanged. */
final case class SubwordEmbedder(base: EmbeddingModel,
                                 minn: Int = 3, maxn: Int = 6) extends Embedder {
  def dim: Int = base.dim
  def lookup(token: String): Array[Double] =
    base.table.get(token) match {
      case Some(v) => v
      case None =>
        val w = s"<$token>"
        val grams = for {
          n <- minn to math.min(maxn, w.length)
          i <- 0 to w.length - n
        } yield w.substring(i, i + n)
        if (grams.isEmpty) base.lookup(token)
        else {
          val out = new Array[Double](dim)
          grams.foreach { g =>
            val v = HashEmbeddings.vector(g, dim, base.seed)
            var j = 0; while (j < dim) { out(j) += v(j); j += 1 }
          }
          var j = 0; while (j < dim) { out(j) /= grams.length; j += 1 }
          out
        }
    }
}

object Vectorize {

  /** entries → fixed-width concat vector: first `maxTokens` token
    * vectors, zero-padded, concatenated to maxTokens*dim doubles
    * (`vectorise_entries`, `Latanova_v1.py:45-62`). */
  def vectorizeLocal(model: Embedder, maxTokens: Int)(entry: String): Array[Double] = {
    val out = new Array[Double](maxTokens * model.dim)
    val toks = Tokenize.tokensLocal(entry)
    var i = 0
    while (i < maxTokens && i < toks.length) {
      System.arraycopy(model.lookup(toks(i)), 0, out, i * model.dim, model.dim)
      i += 1
    }
    out
  }

  /** UDF column: string column → Array[Double] of maxTokens*dim. */
  def vectorizeUdf(spark: SparkSession, model: Embedder, maxTokens: Int): Column => Column = {
    val bc: Broadcast[Embedder] = spark.sparkContext.broadcast(model)
    val f = udf { (entry: String) =>
      if (entry == null) new Array[Double](maxTokens * bc.value.dim)
      else vectorizeLocal(bc.value, maxTokens)(entry)
    }
    c => f(c)
  }

  /** Join-based `vectorise_entries` for vocabularies too large to hold
    * in one driver Map ([[EmbeddingModel.fromDataFrame]]'s `maxWords`
    * bound): SAME output as [[vectorizeUdf]] with an [[EmbeddingModel]]
    * over the same table — first `maxTokens` token vectors, zero-padded
    * to maxTokens·dim, concatenated in token order, OOV falling back to
    * the deterministic hash vector at `seed` — but the vectors stay a
    * DataFrame and tokens look up by JOIN, so no vector ever crosses
    * the driver. The join strategy is the optimizer's: a small vectors
    * side broadcasts (AQE), a corpus-scale one shuffles on the token
    * key — both fine at 100 TB, where the driver-Map path is not.
    *
    * Contract: `vectors` rows are (word, dim-wide array) with UNIQUE
    * words — a duplicate word would multiply its token rows. `idCol`
    * must be unique per input row (it keys the token reassembly).
    * Null/empty/token-free text yields the all-zero vector, exactly as
    * [[vectorizeUdf]] does. */
  def vectorizeJoin(df: DataFrame, idCol: String, textCol: String,
                    vectors: DataFrame, wordCol: String, vecCol: String,
                    maxTokens: Int, dim: Int, seed: Long,
                    outCol: String): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val hashVec = udf((token: String) => HashEmbeddings.vector(token, dim, seed))
    val toks = df.select(col(idCol).as("__id"),
        posexplode(slice(Tokenize.tokens(col(textCol)), 1, maxTokens))
          .as(Seq("__pos", "__tok")))
    // fail-fast on a mis-sized vocabulary vector (the fromDataFrame
    // maxWords discipline): without this, a wrong-length row makes the
    // zero-pad arithmetic below silently produce a wrong-length output
    // vector (maxTokens·dim − size(__cat) goes negative → empty pad)
    val vecs = vectors.select(col(wordCol).cast("string").as("__tok"),
      when(size(col(vecCol)) === dim,
          transform(col(vecCol), _.cast("double")))
        .otherwise(raise_error(concat(
          lit(s"vectorizeJoin: vocabulary vector for word '"),
          col(wordCol).cast("string"),
          lit(s"' has length "), size(col(vecCol)).cast("string"),
          lit(s", expected dim=$dim")))).as("__v"))
    val assembled = toks.join(vecs, Seq("__tok"), "left")
      .select(col("__id"), col("__pos"),
        coalesce(col("__v"), hashVec(col("__tok"))).as("__v"))
      .groupBy("__id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__v")))),
        s => s.getField("__v"))).as("__cat"))
      .select(col("__id"),
        concat(col("__cat"), array_repeat(lit(0.0),
          lit(maxTokens * dim) - size(col("__cat")))).as("__vecout"))
    df.join(assembled, col(idCol) === assembled("__id"), "left")
      .withColumn(outCol,
        coalesce(col("__vecout"), array_repeat(lit(0.0), lit(maxTokens * dim))))
      .drop("__id", "__vecout")
  }
}

/** Vocabulary for nearest-word decode: the corpus's distinct tokens
  * (frequency-capped) with their vectors — the broadcast analogue of
  * `model.wv.similar_by_vector` (`Latanova_v1.py:338`). */
object Vocab {
  /** Build from a text column: distinct tokens by descending frequency,
    * capped (the decode kernel is O(vocab·dim) per slice — cap keeps
    * the broadcast and the scan bounded at scale). */
  def build(df: DataFrame, textCol: String, model: Embedder,
            cap: Int = 50000): Vocab = {
    val tokens = df
      .select(explode(Tokenize.tokens(col(textCol))).as("token"))
      .groupBy("token").count()
      .orderBy(desc("count"), asc("token"))
      .limit(cap)
      .collect()
      .map(_.getString(0))
    // alphanumeric filter mirrors the decode's isalnum gate (`:340`)
    val words = tokens.filter(_.matches("^[\\p{L}\\p{N}]+$"))
    val vecs = words.map(model.lookup)
    new Vocab(words, vecs, model.dim)
  }
}

final class Vocab(val words: Array[String], val vectors: Array[Array[Double]],
                  val dim: Int) extends Serializable {
  private lazy val norms: Array[Double] =
    vectors.map(v => math.sqrt(v.map(x => x * x).sum))

  /** Top-k words by cosine similarity to `q` — brute force over the
    * (bounded, broadcast) vocab; same kernel as north-star similarity
    * search. Returns words in descending-similarity order. */
  def topK(q: Array[Double], k: Int): Array[String] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    if (qn == 0.0 || words.isEmpty) return Array.empty
    val sims = new Array[Double](words.length)
    var i = 0
    while (i < words.length) {
      val v = vectors(i)
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += v(j) * q(j); j += 1 }
      sims(i) = if (norms(i) == 0.0) -1.0 else dot / (norms(i) * qn)
      i += 1
    }
    sims.zipWithIndex.sortBy { case (s, i2) => (-s, words(i2)) }
      .take(k).map { case (_, i2) => words(i2) }
  }

  /** Decode one concatenated vector back to words: per slice, the
    * best (cosine desc, word asc) vocab word — exactly what
    * `topK(slice, 3).headOption` returns over the alnum-filtered vocab
    * (`generate_synthetic_text`, `Latanova_v1.py:333-344`).
    *
    * All `maxTokens` slices score against the vocab matrix in ONE pass
    * (the matrix-matrix shape: outer loop over vocab rows, tight dot
    * loop per slice) with running argmaxes, instead of `maxTokens`
    * separate vocab scans each allocating a slice copy and sorting the
    * full similarity array — the r3 bench's slowest kernel (47 s for
    * q35; SURVEY.md §7 called for exactly this batching). */
  def decode(vector: Array[Double], maxTokens: Int): String = {
    val qn = new Array[Double](maxTokens)
    var s = 0
    while (s < maxTokens) {
      var acc = 0.0; var j = 0; val off = s * dim
      while (j < dim) { val x = vector(off + j); acc += x * x; j += 1 }
      qn(s) = math.sqrt(acc); s += 1
    }
    val bestSim = Array.fill(maxTokens)(Double.NegativeInfinity)
    val bestIdx = Array.fill(maxTokens)(-1)
    var i = 0
    while (i < words.length) {
      val v = vectors(i); val vn = norms(i)
      var t = 0
      while (t < maxTokens) {
        if (qn(t) != 0.0) {
          var dot = 0.0; var j = 0; val off = t * dim
          while (j < dim) { dot += v(j) * vector(off + j); j += 1 }
          val sim = if (vn == 0.0) -1.0 else dot / (vn * qn(t))
          if (sim > bestSim(t) ||
              (sim == bestSim(t) && bestIdx(t) >= 0 && words(i) < words(bestIdx(t)))) {
            bestSim(t) = sim; bestIdx(t) = i
          }
        }
        t += 1
      }
      i += 1
    }
    val sb = new StringBuilder
    s = 0
    while (s < maxTokens) {
      if (bestIdx(s) >= 0) { if (sb.nonEmpty) sb.append(' '); sb.append(words(bestIdx(s))) }
      s += 1
    }
    sb.result()
  }
}
