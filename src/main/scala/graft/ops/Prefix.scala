package graft.ops

import scala.reflect.ClassTag
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The range-scan kernel and its prefix sums — the windowless form of
  * `SUM(x) OVER (PARTITION BY k ORDER BY o)`, which Spark plans as one
  * window task per key (or, unkeyed, every row of the table through a
  * SINGLE task).
  *
  * One kernel ([[rangeScan]]) serves every ordered scan in the engine:
  * running totals here, the exact-quantile rank pick
  * ([[graft.engine.Quantiles]]) and the hot-key as-of join
  * ([[Temporal]]). Shape: ONE repartitionByRange on (key ++ order),
  * sorted partitions, the sort pinned once as persisted rows
  * (memory-and-disk) so pass 2 never shuffles or sorts again. Pass 1
  * sends one summary per partition (empty partitions included) to the
  * driver, which turns them into per-partition carries; pass 2 re-runs
  * the partitions seeded with their carries. A hot key spans as many
  * consecutive partitions as its volume needs, so no key funnels
  * through one task. Because keys are contiguous in the sort, only a
  * partition's FIRST key can have rows in earlier partitions: a keyed
  * running state needs one carry per partition, and the driver holds
  * O(|keys| + P) state.
  */
object Prefix {

  /** Pass 1 of the kernel, done: the pinned sort and its per-partition
    * summaries, in partition order. */
  private[graft] final class RangeScan[S](rows: RDD[Row], val summaries: Array[S]) {
    private var shipped: Option[Broadcast[_]] = None

    /** Pass 2, lazy: each partition's sorted rows with its carry. */
    def seeded[C: ClassTag, T: ClassTag](carries: Array[C])(
        emit: (C, Iterator[Row]) => Iterator[T]): RDD[T] = {
      val cB = rows.sparkContext.broadcast(carries)
      shipped = Some(cB)
      rows.mapPartitionsWithIndex((i, it) => emit(cB.value(i), it))
    }

    /** For a caller that has collected pass 2: drop the pin and the
      * carries now. A lazy result leaves both to the ContextCleaner. */
    def release(): Unit = {
      rows.unpersist(blocking = false)
      shipped.foreach(_.destroy())
    }
  }

  /** The kernel: range-sort `df` on `sortCols` into
    * `spark.sql.shuffle.partitions` partitions, pin the sort, and run
    * pass 1 (`summarize` once per partition). The pin is a persisted
    * RDD, not a checkpoint (which costs a job of its own) and not a
    * Dataset cache (which the CacheManager would hold for as long as a
    * lazy result lives). */
  private[graft] def rangeScan[S: ClassTag](df: DataFrame, sortCols: Seq[Column])(
      summarize: Iterator[Row] => S): RangeScan[S] = {
    val nPart = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val sorted = df.repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rows = sorted.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    new RangeScan(rows, rows.mapPartitions(it => Iterator(summarize(it))).collect())
  }

  /** Spark groups every NaN key together, but Scala `==` never equates
    * two NaNs, so inside the kernel a NaN key is a marker. NULL keys
    * are one key already. */
  private case object DoubleNaN
  private case object FloatNaN
  private[graft] def scanKey(k: Any): Any = k match {
    case d: java.lang.Double if d.isNaN => DoubleNaN
    case f: java.lang.Float if f.isNaN => FloatNaN
    case _ => k
  }
  private[graft] def outKey(k: Any): Any = k match {
    case DoubleNaN => Double.NaN
    case FloatNaN => Float.NaN
    case _ => k
  }

  /** One key's running state: its value sums and row count so far. */
  private[graft] final class Run(val key: Any, val sums: Array[Long], var rows: Long)
      extends Serializable {
    def copy(): Run = new Run(key, sums.clone(), rows)
    def add(o: Run): Unit = {
      var j = 0
      while (j < sums.length) { sums(j) += o.sums(j); j += 1 }
      rows += o.rows
    }
  }

  /** The keyed running sum over sorted rows: `step` advances by one row
    * and returns its key's state (a fresh [[Run]] whenever the key
    * changes), starting from `carry`, the state the first key brings
    * in from earlier partitions (null: none). The key is column `kIdx`
    * (-1: unkeyed, one key); the values are the LONG columns `vIdx`,
    * NULL counting as 0. */
  private[graft] final class Running(kIdx: Int, vIdx: Array[Int], carry: Run) {
    private var cur: Run = if (carry == null) null else carry.copy()
    def step(r: Row): Run = {
      val k = if (kIdx < 0) () else scanKey(r.get(kIdx))
      if (cur == null || cur.key != k) cur = new Run(k, new Array[Long](vIdx.length), 0L)
      var j = 0
      while (j < vIdx.length) {
        if (!r.isNullAt(vIdx(j))) cur.sums(j) += r.getLong(vIdx(j))
        j += 1
      }
      cur.rows += 1L
      cur
    }
  }

  /** The keyed-sum instance's pass 1 summary: the partition's runs of
    * equal keys, in order. */
  private[graft] def keyRuns(kIdx: Int, vIdx: Array[Int]): Iterator[Row] => Array[Run] = { it =>
    val running = new Running(kIdx, vIdx, null)
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    it.foreach { r =>
      val run = running.step(r)
      if (runs.isEmpty || (runs.last ne run)) runs += run
    }
    runs.toArray
  }

  /** The driver's carry walk over [[keyRuns]] summaries: per partition,
    * the state of its first key on entry (null if that key starts
    * there), and per key its totals over the whole scan. */
  private[graft] def carryIn(parts: Array[Array[Run]]): (Array[Run], Map[Any, Run]) = {
    val tot = scala.collection.mutable.HashMap.empty[Any, Run]
    val carries = parts.map { runs =>
      val carry = runs.headOption.flatMap(r => tot.get(r.key)).map(_.copy()).orNull
      runs.foreach(r => tot.get(r.key) match {
        case Some(t) => t.add(r)
        case None => tot(r.key) = r.copy()
      })
      carry
    }
    (carries, tot.toMap)
  }

  /** A key's totals over the whole input: the sum of each value column
    * and the row count. */
  final case class Totals(sums: IndexedSeq[Long], rows: Long)

  /** [[runningTotals]]' result: the rows with their running totals
    * (lazy), and the totals pass 1 already counted — per key (an
    * unkeyed scan has one entry, under `()`) and over all keys. */
  final case class RunningTotals(rows: DataFrame, byKey: Map[Any, Totals], total: Totals)

  /** All original columns plus `outCol` = the INCLUSIVE running total
    * of `valueCol` (cast to long) in ascending `orderCol` order.
    * Deterministic when `orderCol` is unique (ties sort arbitrarily
    * within the range sort otherwise — same caveat as any ORDER BY on
    * a non-unique key). Null values count as 0; null order keys sort
    * first (Spark ascending-null ordering). */
  def runningTotal(df: DataFrame, orderCol: String, valueCol: String,
                   outCol: String = "cum"): DataFrame =
    runningTotals(df, None, Seq(orderCol),
      Seq(outCol -> coalesce(col(valueCol).cast(LongType), lit(0L)))).rows

  /** Global 0-based row number in ascending `orderCols` order — the
    * windowless `ROW_NUMBER() OVER (ORDER BY ...) - 1`. Deterministic
    * when `orderCols` is a unique key. The rank of a row is the running
    * count of rows before it. */
  def rowNumber(df: DataFrame, orderCols: Seq[String],
                outCol: String = "rk"): DataFrame =
    runningTotals(df, None, orderCols, Seq(outCol -> lit(1L))).rows
      .withColumn(outCol, col(outCol) - 1L)

  /** SEVERAL running totals over ONE shared range sort — k independent
    * `SUM(x_k) OVER (PARTITION BY keyCol ORDER BY orderCols ROWS
    * UNBOUNDED PRECEDING)` columns (no PARTITION BY when `keyCol` is
    * None) for the price of a single shuffle. NULL keys form one key,
    * and so do NaN keys, as in Spark's groupBy; NULL values count as 0.
    * The totals come back with the rows: pass 1 has counted them, so a
    * caller never re-reads its input to learn them. */
  def runningTotals(df: DataFrame, keyCol: Option[String], orderCols: Seq[String],
                    values: Seq[(String, Column)]): RunningTotals = {
    require(orderCols.nonEmpty, "need at least one order column")
    require(values.nonEmpty, "need at least one value expression")
    values.foreach { case (outCol, _) =>
      require(!df.columns.contains(outCol),
        s"input already has a column named '$outCol' — pass a different outCol")
    }
    require(values.map(_._1).distinct.size == values.size,
      "duplicate output column names")
    val scratch = values.indices.map(i => s"__v$i")
    scratch.foreach { s =>
      require(!df.columns.contains(s),
        s"input already has a column named '$s' (internal scratch name)")
    }
    val withValues = values.zip(scratch).foldLeft(df) {
      case (acc, ((_, v), s)) => acc.withColumn(s, v.cast(LongType))
    }
    val schema = withValues.schema
    val kIdx = keyCol.map(schema.fieldIndex).getOrElse(-1)
    val vIdx = scratch.map(schema.fieldIndex).toArray
    val pass1 = rangeScan(withValues, (keyCol.toSeq ++ orderCols).map(col))(
      keyRuns(kIdx, vIdx))
    val (carries, totals) = carryIn(pass1.summaries)
    val scratchSet = scratch.toSet
    val keep = schema.fields.indices.filter(i => !scratchSet(schema(i).name)).toArray
    val outSchema = StructType(keep.map(schema(_)) ++
      values.map { case (outCol, _) => StructField(outCol, LongType, nullable = false) })
    val rdd = pass1.seeded(carries) { (carry, it) =>
      val running = new Running(kIdx, vIdx, carry)
      it.map { r =>
        val run = running.step(r)
        Row.fromSeq(keep.map(r.get).toIndexedSeq ++ run.sums.toIndexedSeq)
      }
    }
    val byKey = totals.map { case (k, t) => outKey(k) -> Totals(t.sums.toIndexedSeq, t.rows) }
    val all = new Run((), new Array[Long](values.size), 0L)
    totals.values.foreach(all.add)
    RunningTotals(df.sparkSession.createDataFrame(rdd, outSchema), byKey,
      Totals(all.sums.toIndexedSeq, all.rows))
  }

  /** Sequence packing for training-batch assembly (the "concatenate
    * the corpus, cut every `budget` tokens" layout LM pipelines use):
    * documents taken in `orderCol` order occupy token positions
    * `[cum − n_tokens, cum)` of one global stream; each doc reports
    * the training sequence (`bin`) its first token lands in, its
    * offset inside that sequence, and whether it crosses a sequence
    * boundary (`crosses` — the rows a loader must split). Pure
    * function of the prefix sum → fully distributed via
    * [[runningTotal]], and replayable by any engine's windowed SUM. */
  def packSequences(df: DataFrame, orderCol: String, tokenCol: String,
                    budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    runningTotal(df, orderCol, tokenCol, "cum")
      .withColumn("start_pos", col("cum") - coalesce(col(tokenCol).cast(LongType), lit(0L)))
      .withColumn("bin", floor(col("start_pos") / budget))
      .withColumn("bin_offset", col("start_pos") % budget)
      .withColumn("crosses",
        floor((col("cum") - 1) / budget) > col("bin") && col("cum") > col("start_pos"))
  }
}
