package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: row count, the sum of
  * the low 32 bits of each row hash and the XOR of the row hashes. Doubles
  * are rendered to 9 significant digits before hashing, so a last-bit
  * difference in a parallel sum does not change the fingerprint. */
object Fingerprint {
  final case class Fp(rows: Long, sum: Long, xor: Long) {
    def toMap: Map[String, Long] = Map("rows" -> rows, "sum" -> sum, "xor" -> xor)
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) => if (fs.isEmpty) c else struct(fs.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(canon(e.getField("key"), kt), canon(e.getField("value"), vt))))
    case _ => c
  }

  private def rowHash(df: DataFrame): Column =
    xxhash64(lit(0) +: df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType)): _*)

  /** `df` with an observation attached; `read` is valid after an action. */
  def observe(df: DataFrame, name: String): (DataFrame, () => Fp) = {
    val obs = Observation(name)
    val h = rowHash(df)
    val out = df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("sum"),
      coalesce(bit_xor(h), lit(0L)).as("xor"))
    (out, () => {
      val m = obs.get
      Fp(m("rows").asInstanceOf[Long], m("sum").asInstanceOf[Long], m("xor").asInstanceOf[Long])
    })
  }

  /** Fingerprint of a collected, driver-side result (used for small
    * store reads and their twins). */
  def of(df: DataFrame): Fp = {
    val r = df.select(rowHash(df).as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(bit_xor(col("h")), lit(0L))).head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
