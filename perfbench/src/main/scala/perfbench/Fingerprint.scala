package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: row count plus two
  * 32-bit halves of the per-row xxhash64, each summed over all rows, so row
  * order does not matter but duplicates and missing rows do. Columns are
  * taken in name order (ties by position); floating values are compared at
  * eight significant digits (decimal exponent plus rounded mantissa,
  * computed arithmetically so the check stays cheap next to the query), so a
  * last-ulp difference from a different summation order does not read as a
  * wrong answer. */
object Fingerprint {

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      val ad = abs(d)
      val finiteNonZero = !isnan(d) && ad =!= lit(Double.PositiveInfinity) && ad >= lit(1e-300)
      val e = when(finiteNonZero, floor(log10(ad))).otherwise(lit(0L))
      val special = when(isnan(d), lit(Long.MinValue))
        .when(d === lit(Double.PositiveInfinity), lit(Long.MaxValue))
        .when(d === lit(Double.NegativeInfinity), lit(Long.MaxValue - 1))
        .otherwise(lit(0L))
      when(d.isNotNull, when(finiteNonZero,
        struct(e.as("e"), rint(d / pow(lit(10.0), e - 7)).cast(LongType).as("m")))
        .otherwise(struct(lit(0L).as("e"), special.as("m"))))
    case ArrayType(et, _) => transform(c, norm(_, et))
    case StructType(fs) if fs.nonEmpty =>
      struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** `df` with positional column names plus the fingerprint aggregates
    * over it; the renamed frame carries every original column. */
  def prepare(df: DataFrame): (DataFrame, Column, Seq[Column]) = {
    val fields = df.schema.fields.toIndexedSeq
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) => norm(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    (renamed, count(lit(1)).as("n"),
      Seq(coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"),
        coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo")))
  }

  def render(n: Long, hi: Long, lo: Long): String = s"$n:$hi:$lo"

  /** Fingerprint of an already materialized result (used to record the
    * expected values from a verified dump). */
  def of(df: DataFrame): String = {
    val (renamed, n, rest) = prepare(df)
    val r = renamed.agg(n, rest: _*).head()
    render(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
