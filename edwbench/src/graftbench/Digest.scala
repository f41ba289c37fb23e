package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Drains a frame over every column into a row count and an
  * order-independent digest, in one pass over `queryExecution.toRdd`.
  *
  * `count()` lets Catalyst prune every projected column, so it times a
  * different (and much cheaper) plan than the one a consumer runs. Here
  * each row is hashed from all of its values, the row hashes are folded
  * with commutative operators (sum and xor), and the schema line is part
  * of the digest, so row order and partition count cannot move it while a
  * changed value, a lost row or a renamed column does.
  *
  * Doubles and floats are hashed after rounding away the low 20 mantissa
  * bits (about 9.6 significant decimal digits kept), so a last-bit change
  * from a different summation order does not read as a wrong answer. */
object Digest {

  final case class Result(rows: Long, digest: String)

  private val NullHash = 0x5bd1e9955bd1e995L

  private def mix(h: Long): Long = {
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def comb(acc: Long, v: Long): Long = mix(acc * 31 + v)

  private[graftbench] def canonDouble(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L
    else {
      val bits = java.lang.Double.doubleToLongBits(d)
      (bits + (1L << 19)) & ~((1L << 20) - 1)
    }

  private def hashBytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  private def hashValue(v: Any, dt: DataType): Long =
    if (v == null) NullHash
    else dt match {
      case DoubleType => canonDouble(v.asInstanceOf[Double])
      case FloatType => canonDouble(v.asInstanceOf[Float].toDouble)
      case _: StringType =>
        val s = v.asInstanceOf[UTF8String]
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      case BinaryType => hashBytes(v.asInstanceOf[Array[Byte]])
      case _: DecimalType => hashBytes(v.toString.getBytes("UTF-8"))
      case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        var h = a.numElements().toLong
        var i = 0
        while (i < a.numElements()) {
          h = comb(h, if (a.isNullAt(i)) NullHash else hashValue(a.get(i, et), et))
          i += 1
        }
        h
      case MapType(kt, vt, _) =>
        // map entry order is not part of a map's value
        val m = v.asInstanceOf[MapData]
        val ks = m.keyArray()
        val vs = m.valueArray()
        var h = m.numElements().toLong
        var i = 0
        while (i < m.numElements()) {
          val kv = comb(hashValue(ks.get(i, kt), kt),
            if (vs.isNullAt(i)) NullHash else hashValue(vs.get(i, vt), vt))
          h += mix(kv)
          i += 1
        }
        h
      case st: StructType => hashRow(v.asInstanceOf[InternalRow], st)
      case _ => v match {
        case n: java.lang.Number => n.longValue()
        case other => hashBytes(other.toString.getBytes("UTF-8"))
      }
    }

  private[graftbench] def hashRow(row: InternalRow, schema: StructType): Long = {
    var h = schema.length.toLong
    var i = 0
    while (i < schema.length) {
      val dt = schema(i).dataType
      h = comb(h, if (row.isNullAt(i)) NullHash else hashValue(row.get(i, dt), dt))
      i += 1
    }
    h
  }

  /** Row count and digest of `df`'s full result. Runs the frame's own
    * physical plan (`queryExecution.toRdd`), so nothing is pruned. */
  def of(df: DataFrame): Result = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      var xor = 0L
      while (it.hasNext) {
        val h = hashRow(it.next(), schema)
        n += 1
        sum += mix(h)
        xor ^= h
      }
      Iterator((n, sum, xor))
    }.collect()
    val n = parts.map(_._1).sum
    val sum = parts.map(_._2).sum
    val xor = parts.map(_._3).foldLeft(0L)(_ ^ _)
    val line = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val schemaHash = hashBytes(line.getBytes("UTF-8"))
    Result(n, f"${mix(schemaHash ^ sum)}%016x${mix(xor + n)}%016x")
  }
}
