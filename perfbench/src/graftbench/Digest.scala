package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a query result.
  *
  * Each row is rendered canonically (columns in name order, doubles to
  * 12 significant digits, map entries sorted) and hashed with 64-bit
  * FNV-1a; the digest is the row count plus the wrapping sum of the row
  * hashes, so it ignores row order but not row multiplicity.
  *
  * `of(df)` executes the query's own physical plan once (the timed
  * action of the benchmark): it is the same work as a noop sink plus a
  * per-row hash, and unlike `count()` it cannot let Catalyst prune
  * computed columns or drop a final sort.
  */
object Digest {

  def of(df: DataFrame): String = ofRdd(df.schema, df.queryExecution.toRdd)

  def ofRdd(schema: StructType,
      rdd: org.apache.spark.rdd.RDD[InternalRow]): String = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name).map {
      case (f, i) => (i, f.dataType) }
    val parts = rdd.mapPartitions { rows =>
      var n = 0L
      var sum = 0L
      val sb = new java.lang.StringBuilder
      rows.foreach { r =>
        sb.setLength(0)
        order.foreach { case (i, t) =>
          render(if (r.isNullAt(i)) null else r.get(i, t), t, sb)
          sb.append('\u0001')
        }
        n += 1
        sum += fnv(sb)
      }
      Iterator.single((n, sum))
    }.collect()
    val names = order.map(o => schema.fields(o._1).name).mkString(",")
    f"${parts.map(_._1).sum}%d:${parts.map(_._2).sum}%016x:$names"
  }

  private def fnv(s: CharSequence): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    h
  }

  private def render(v: Any, t: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append('∅')
    else t match {
      case DoubleType => real(v.asInstanceOf[Double], sb)
      case FloatType => real(v.asInstanceOf[Float].toDouble, sb)
      case _: DecimalType =>
        sb.append(v.asInstanceOf[Decimal].toJavaBigDecimal
          .stripTrailingZeros.toPlainString)
      case BinaryType =>
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          render(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
          sb.append(',')
          i += 1
        }
        sb.append(']')
      case StructType(fs) =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        fs.indices.foreach { i =>
          render(if (r.isNullAt(i)) null else r.get(i, fs(i).dataType),
            fs(i).dataType, sb)
          sb.append(',')
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          render(m.keyArray().get(i, kt), kt, e)
          e.append('=')
          render(if (m.valueArray().isNullAt(i)) null
            else m.valueArray().get(i, vt), vt, e)
          e.toString
        }.sorted
        sb.append('<').append(entries.mkString(",")).append('>')
      case _ => sb.append(v.toString) // strings, integers, dates, timestamps
    }

  private def real(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d)
    else if (d == 0.0) sb.append('0')
    else sb.append(new java.math.BigDecimal(d)
      .round(new java.math.MathContext(12)).stripTrailingZeros.toString)
}
