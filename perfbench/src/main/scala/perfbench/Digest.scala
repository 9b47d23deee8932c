package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Order-independent result digest: the row count plus the wrapping sum
  * of a 64-bit hash per row. A row hashes the canonical bytes of its
  * values taken in column-name order (the first 8 bytes of their md5).
  * Numbers are compared by value, as the oracle compare does: an
  * integral float encodes like the integer, -0.0 like 0.0. The same
  * encoding is implemented in oracle.py, so a DuckDB result digests to
  * the same string as the engine's. */
object Digest {

  def of(df: DataFrame): String = {
    val names = df.columns
    val order = names.indices.sortBy(i => names(i)).toArray
    val parts = df.mapPartitions(partition(order))(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    render(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def render(n: Long, h: Long): String =
    s"$n:${java.lang.Long.toUnsignedString(h, 16)}"

  private def partition(order: Array[Int])
      : Iterator[Row] => Iterator[(Long, Long)] = it => {
    val md = MessageDigest.getInstance("MD5")
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    var n = 0L
    var h = 0L
    it.foreach { r =>
      buf.reset()
      order.foreach(i => enc(r.get(i), out))
      out.flush()
      h += rowHash(md, buf.toByteArray)
      n += 1
    }
    Iterator((n, h))
  }

  private def rowHash(md: MessageDigest, bytes: Array[Byte]): Long = {
    val d = md.digest(bytes)
    var x = 0L
    for (i <- 0 until 8) x = (x << 8) | (d(i) & 0xffL)
    x
  }

  private def num(d: Double, out: DataOutputStream): Unit =
    if (d.isNaN) out.writeByte('F')
    else if (d == math.rint(d) && math.abs(d) < 9.0e18) {
      out.writeByte('I'); out.writeLong(d.toLong)
    } else {
      out.writeByte('D'); out.writeLong(java.lang.Double.doubleToLongBits(d))
    }

  private def micros(epochSecond: Long, nanos: Int): Long =
    epochSecond * 1000000L + nanos / 1000

  private def enc(v: Any, out: DataOutputStream): Unit = v match {
    case null => out.writeByte('N')
    case b: Boolean => out.writeByte('B'); out.writeByte(if (b) 1 else 0)
    case x: Byte => out.writeByte('I'); out.writeLong(x.toLong)
    case x: Short => out.writeByte('I'); out.writeLong(x.toLong)
    case x: Int => out.writeByte('I'); out.writeLong(x.toLong)
    case x: Long => out.writeByte('I'); out.writeLong(x)
    case x: Float => num(x.toDouble, out)
    case x: Double => num(x, out)
    case x: java.math.BigDecimal => num(x.doubleValue, out)
    case s: String =>
      val b = s.getBytes(UTF_8)
      out.writeByte('S'); out.writeInt(b.length); out.write(b)
    case t: java.sql.Timestamp =>
      out.writeByte('T')
      out.writeLong(micros(Math.floorDiv(t.getTime, 1000L), t.getNanos))
    case t: java.time.Instant =>
      out.writeByte('T'); out.writeLong(micros(t.getEpochSecond, t.getNano))
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      out.writeByte('T'); out.writeLong(micros(i.getEpochSecond, i.getNano))
    case d: java.sql.Date =>
      out.writeByte('A'); out.writeLong(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate =>
      out.writeByte('A'); out.writeLong(d.toEpochDay)
    case b: Array[Byte] =>
      out.writeByte('Y'); out.writeInt(b.length); out.write(b)
    case r: Row =>
      out.writeByte('R'); out.writeInt(r.length)
      (0 until r.length).foreach(i => enc(r.get(i), out))
    case s: scala.collection.Seq[_] =>
      out.writeByte('L'); out.writeInt(s.size); s.foreach(enc(_, out))
    case other =>
      throw new IllegalArgumentException(
        s"digest: unsupported value type ${other.getClass.getName}")
  }
}
