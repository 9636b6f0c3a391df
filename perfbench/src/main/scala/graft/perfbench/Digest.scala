package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a result: row count plus the
  * sum (mod 2^64) of one 64-bit hash per row. Columns are taken in
  * name order and every value is rendered canonically, as
  * scripts/oracle_check.py compares them: floating values are rounded
  * to nine significant digits (so last-ulp differences from summation
  * order do not count), -0.0 reads as 0, and timestamps as epoch
  * microseconds. Computed on the executors, so large outputs are
  * never collected. */
object Digest {
  final case class Value(rows: Long, hash: String) {
    def json: String = s"""{"rows":$rows,"hash":"$hash"}"""
  }

  private def canonDouble(x: Double): String =
    if (x.isNaN) "NaN"
    else if (x.isInfinite) (if (x > 0) "Inf" else "-Inf")
    else if (x == 0.0) "0"
    else {
      val e = math.floor(math.log10(math.abs(x))).toInt - 8
      val m = math.floor(x / math.pow(10, e) + 0.5).toLong
      s"${m}e$e"
    }

  private def canon(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "∅"
    case (d: Double, _) => canonDouble(d)
    case (f: Float, _) => canonDouble(f.toDouble)
    case (d: java.math.BigDecimal, _) => canonDouble(d.doubleValue)
    case (ts: java.sql.Timestamp, _) =>
      (ts.getTime / 1000 * 1000000L + ts.getNanos / 1000).toString
    case (ts: java.time.Instant, _) =>
      (ts.getEpochSecond * 1000000L + ts.getNano / 1000).toString
    case (b: Array[Byte], _) => b.map("%02x".format(_)).mkString
    case (r: Row, st: StructType) => row(r, st)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(canon(_, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.map { case (k, x) => canon(k, kt) + ":" + canon(x, vt) }.toSeq.sorted.mkString("{", ",", "}")
    case (x, _) => x.toString
  }

  private def row(r: Row, st: StructType): String =
    st.fields.zipWithIndex.sortBy(_._1.name)
      .map { case (f, i) => canon(r.get(i), f.dataType) }.mkString("\u0001")

  private def rowHash(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def of(df: DataFrame): Value = {
    val st = df.schema
    val parts = df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(row(r, st)) }
      Iterator((n, h))
    }.collect()
    Value(parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }
}
