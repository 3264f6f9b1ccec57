package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.Row

/** Row count plus an order-insensitive content hash of a result. */
final case class Digest(rows: Long, hash: Long)

/** Canonical hashing of results, on both sides of a check: Arrow IPC bytes
  * received from the server are decoded with Arrow's own reader (not the
  * engine's decoder), and reference rows come from an in-process
  * `collect()`. Both map every cell to the same canonical long:
  * integers by value, timestamps as epoch microseconds, dates as epoch
  * days, strings and decimals by a hash of their text, and doubles
  * rounded to 9 significant digits, so that a different summation order
  * of a floating-point aggregate does not read as a wrong answer. The
  * table hash is the wrapping sum of the row hashes, so it ignores row
  * order and keeps duplicates. */
object ResultHash {

  private val NullCell = 0x5bd1e9955bd1e995L

  private def mix(x: Long): Long = { // splitmix64 finaliser
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def textCell(s: String): Long = {
    val b = s.getBytes(UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x1b873593)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x2f0b3c4d)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  /** (mantissa rounded to 9 significant digits, decimal exponent). */
  private def doubleCell(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L
    else if (d.isInfinite) java.lang.Double.doubleToLongBits(d)
    else {
      var e = math.floor(math.log10(math.abs(d))).toInt
      var q = math.round(d * math.pow(10, 8 - e))
      if (math.abs(q) >= 1000000000L) { q /= 10; e += 1 } // rounding carried
      mix(q) ^ e
    }

  /** Canonical long of one cell value, from either side. */
  def cell(v: Any): Long = v match {
    case null => NullCell
    case b: Boolean => if (b) 1L else 2L
    case d: Double => doubleCell(d)
    case f: Float => doubleCell(f.toDouble)
    case n: java.lang.Byte => n.longValue
    case n: java.lang.Short => n.longValue
    case n: java.lang.Integer => n.longValue
    case n: java.lang.Long => n.longValue
    case d: java.math.BigDecimal => textCell(d.stripTrailingZeros().toPlainString)
    case d: scala.math.BigDecimal => cell(d.bigDecimal)
    case t: java.sql.Timestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.Instant =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t)
    case t: java.time.LocalDateTime =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t)
    case d: java.sql.Date =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong
    case d: java.time.LocalDate => d.toEpochDay
    case t: org.apache.arrow.vector.util.Text => textCell(t.toString)
    case s: String => textCell(s)
    case other => throw new IllegalArgumentException(
      s"no canonical hash for ${other.getClass.getName}")
  }

  def rowHash(cells: Iterator[Any]): Long =
    mix(cells.foldLeft(0x2545f4914f6cdd1dL)((h, c) => mix(h ^ cell(c))))

  def ofRows(rows: Iterable[Row]): Digest = {
    var h = 0L; var n = 0L
    rows.foreach { r => h += rowHash(r.toSeq.iterator); n += 1 }
    Digest(n, h)
  }

  /** Visit each row of an Arrow IPC stream, decoded with Arrow's own
    * reader. Timestamp and date vectors yield epoch longs, which [[cell]]
    * takes as they are. */
  def foreachArrowRow(bytes: Array[Byte])(f: Seq[Any] => Unit): Unit = {
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) {
        val vs = root.getFieldVectors.asScala.toIndexedSeq
        var i = 0
        while (i < root.getRowCount) {
          val row = i
          f(vs.map {
            case t: org.apache.arrow.vector.TimeStampVector =>
              if (t.isNull(row)) null else java.lang.Long.valueOf(t.get(row))
            case d: org.apache.arrow.vector.DateDayVector =>
              if (d.isNull(row)) null else java.lang.Long.valueOf(d.get(row).toLong)
            case v => v.getObject(row)
          })
          i += 1
        }
      }
    } finally { reader.close(); alloc.close() }
  }

  def ofArrow(bytes: Array[Byte]): Digest = {
    var h = 0L; var n = 0L
    foreachArrowRow(bytes) { r => h += rowHash(r.iterator); n += 1 }
    Digest(n, h)
  }

  def arrowRows(bytes: Array[Byte]): Seq[Seq[Any]] = {
    val out = Seq.newBuilder[Seq[Any]]
    foreachArrowRow(bytes)(out += _)
    out.result()
  }

  /** Reference rows as canonical cell tuples, sorted, for the tolerant
    * comparison that runs only after a hash mismatch. */
  def canonicalRows(rows: Iterable[Seq[Any]]): Seq[Seq[Any]] =
    rows.map(_.map {
      case null => null
      case d: Double => d
      case f: Float => f.toDouble
      case o => cell(o)
    }).toSeq.sortBy(_.map {
      case null => "~"
      case d: Double => f"$d%.6e"
      case o => o.toString
    }.mkString("|"))

  /** Rows equal up to 1e-9 relative on doubles. */
  def tolerantEqual(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall {
        case (p: Double, q: Double) =>
          p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
        case (p, q) => p == q
      }
    }
}
