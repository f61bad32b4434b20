package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Order-insensitive fingerprint over EVERY output column. Unlike
  * `count()`, which lets Catalyst prune every column it does not need (and
  * with them whole joins and shuffles), each column feeds an aggregate, so
  * the digest forces the full result to be computed.
  *
  * Floating columns are summed rather than hashed: two correct tiers may
  * differ in the last bits of a distributed sum, and the digest must
  * compare within a relative tolerance. Each float sum is taken three
  * times — plain and weighted by two functions of the row's exact-column
  * hash — so a score moved to the wrong key changes the digest. All the
  * benchmark's float outputs are non-negative, so rows agreeing within a
  * relative tolerance give sums agreeing within it too.
  */
final case class Digest(rows: Long, hashLo: Long, hashHi: Long, hashXor: Long,
    sums: Seq[Double]) {

  def matches(o: Digest): Boolean =
    rows == o.rows && hashLo == o.hashLo && hashHi == o.hashHi &&
      hashXor == o.hashXor && sums.size == o.sums.size &&
      sums.zip(o.sums).forall { case (a, b) => Digest.close(a, b) }

  override def toString: String =
    f"rows=$rows hash=$hashLo%x/$hashHi%x/$hashXor%x sums=${sums.mkString(",")}"
}

object Digest {

  /** Scores of two correct tiers agree within this relative tolerance, the
    * one the operators' own tier-parity specs pin. */
  val RelTol = 1e-9

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= RelTol * math.max(math.abs(a), math.abs(b))

  private def isFloat(t: org.apache.spark.sql.types.DataType) = t match {
    case DoubleType | FloatType => true
    case ArrayType(DoubleType | FloatType, _) => true
    case _ => false
  }

  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.toSeq
    val exact = fields.filterNot(f => isFloat(f.dataType)).map(f => col(f.name))
    val floats = fields.filter(f => isFloat(f.dataType))
    val h: Column = if (exact.isEmpty) lit(0L) else xxhash64(exact: _*)
    val w1 = h.bitwiseAND(lit(1023L)) + lit(1L)
    val w2 = shiftrightunsigned(h, 10).bitwiseAND(lit(1023L)) + lit(1L)
    val floatSums = floats.flatMap { f =>
      val v = f.dataType match {
        case _: ArrayType =>
          aggregate(col(f.name), lit(0.0), (acc, x) => acc + coalesce(x.cast("double"), lit(0.0)))
        case _ => coalesce(col(f.name).cast("double"), lit(0.0))
      }
      Seq(sum(v), sum(v * w1), sum(v * w2))
    }
    val aggs = Seq(count(lit(1)),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32)),
      bit_xor(h)) ++ floatSums
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def lng(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    Digest(lng(0), lng(1), lng(2), lng(3),
      (4 until row.length).map(i => if (row.isNullAt(i)) 0.0 else row.getDouble(i)))
  }
}
