package graft.core

import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Size gate of a driver-local tier, and the one statement of its rule.
  *
  * An operator with a driver-local tier takes a cap (`maxLocalEdges`,
  * `maxLocalTokens`, ...) and asks [[collectAtMost]] (a row cap) or
  * [[collectWithin]] (a cap on a summed size) for its input:
  *
  *   - a cap ≤ 0 forces the distributed tier: None, and no Spark job runs;
  *   - an input over the cap falls through to the distributed tier (None);
  *   - within the cap the operator gets its rows and runs locally.
  *
  * [[collectAtMost]] probes with one `limit(cap + 1)` collect, so over the
  * cap the driver holds at most `cap + 1` rows before it drops them: the
  * bound the local tier already accepts for a capped input, paid without
  * a separate `count()` job. A cap ≥ `Int.MaxValue - 1`, where `cap + 1`
  * reaches the largest Int limit, means no row limit: a plain collect.
  * An operator with no distributed tier (a "loud" gate) throws on None,
  * so at a cap ≤ 0 it always throws. */
object Gate {

  /** `ds`'s rows when there are at most `cap`, else None; see [[Gate]]. */
  def collectAtMost[T](ds: Dataset[T], cap: Long): Option[Array[T]] =
    if (cap <= 0) None
    else {
      val got = if (cap < Int.MaxValue - 1) ds.limit(cap.toInt + 1).collect() else ds.collect()
      if (got.length > cap) None else Some(got)
    }

  /** `rdd`'s elements when Σ size(x) ≤ cap, else None. At cap ≤ 0 `rdd` is
    * not even built (building a plan's RDD under AQE runs its shuffle
    * stages), so no job runs. Else one probe job, then — only within the
    * cap — one collect. Both run over the same RDD, so the shuffles
    * upstream of it materialize once and the collect re-reads their
    * output. Over the cap nothing reaches the driver but the sum, and each
    * probe task stops reading once its own partition is over the cap; the
    * caller's distributed tier then evaluates its input again, so an
    * over-cap call pays one extra pass (a partial one when partitions
    * exceed the cap). */
  def collectWithin[T: ClassTag](rdd: => RDD[T], cap: Long)(size: T => Long): Option[Array[T]] = {
    if (cap <= 0) return None
    val in = rdd
    val total = in.mapPartitions { it =>
      var s = 0L
      while (s <= cap && it.hasNext) s += size(it.next())
      Iterator.single(s)
    }.fold(0L)(_ + _)
    if (total > cap) None else Some(in.collect())
  }

  /** A text's size under a text gate: its token count (one more than its
    * spaces, as `split(text, " ")` gives) or an eighth of its UTF-8 bytes,
    * whichever is more, so texts with few spaces are bounded by their
    * bytes. */
  def textUnits(t: UTF8String): Long = {
    var spaces = 0L
    var i = 0
    while (i < t.numBytes) {
      if (t.getByte(i) == ' ') spaces += 1
      i += 1
    }
    math.max(spaces + 1, (t.numBytes + 7L) / 8)
  }

  /** The least a row counts toward a text gate, however short its text: a
    * local pass holds per-row state (the collected row, an output row,
    * per-document arrays) that its token count does not show. The text
    * caps were measured on 60-token documents, so this bounds a capped
    * input's rows by the measured row count; it now bounds the local
    * tiers of `DupSpans.dupSpansMulti` and `Dedup.minHashLshPairs`. The
    * floor was set by a measurement on documents of 1–5 tokens
    * (`graft.tools.TextTierSweep tokenstats@1-5`, 1 GB heap), in the
    * driver-local tier `Tokenizer.tokenStats` had then: 333k of them — 1M
    * tokens — raised the heap by 377–455 MB, 1.25M ran it out of memory. */
  val RowUnits = 60L

  /** The input of a text operator's driver-local tier: `df`'s (id, text)
    * rows in Spark's internal form — a string id or text as the
    * `UTF8String` of its stored bytes, so malformed UTF-8 reaches the
    * local pass exactly as the distributed expressions see it; an
    * integral id boxed — with the id column's field; rows with a null
    * text are dropped. None, so the distributed tier runs, when the id is
    * neither integral nor string, the text is not a string, an id repeats
    * (the distributed tiers group by the id), more than `maxNullIds` ids
    * are null, or Σ max([[RowUnits]], [[textUnits]]) is over `cap`. */
  def collectTexts(df: DataFrame, idCol: String, textCol: String, cap: Long,
      maxNullIds: Int): Option[(StructField, Array[(Any, UTF8String)])] = {
    val idField = df.select(col(idCol)).schema.head
    val idType = idField.dataType
    val in = df.select(col(idCol).as("id"), col(textCol).as("text"))
    if (!Set[DataType](ByteType, ShortType, IntegerType, LongType, StringType)(idType) ||
        in.schema("text").dataType != StringType) return None
    // internal rows are reused by their iterator: copy what is kept
    val got = collectWithin(in.where(col("text").isNotNull).queryExecution.toRdd.map { r =>
      val id = if (r.isNullAt(0)) null
        else if (idType == StringType) r.getUTF8String(0).clone()
        else r.get(0, idType)
      (id: Any, r.getUTF8String(1).clone())
    }, cap)(t => math.max(RowUnits, textUnits(t._2))).getOrElse(return None)
    val seen = scala.collection.mutable.HashSet.empty[Any]
    var nulls = 0
    if (!got.forall { case (id, _) =>
      if (id == null) { nulls += 1; nulls <= maxNullIds } else seen.add(id)
    }) None
    else Some((idField, got))
  }

  /** A LocalRelation of `schema` over internal-form rows (strings as
    * `UTF8String`), kept as compact unsafe rows. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Iterator[InternalRow]): DataFrame = {
    val proj = UnsafeProjection.create(schema)
    org.apache.spark.sql.graft.shims.dataFrameOf(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          rows.map(proj(_).copy(): InternalRow).toArray)))
  }
}
