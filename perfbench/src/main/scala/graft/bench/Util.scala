package graft.bench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A finite double printed with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Order-insensitive content checksum of a query result: the wrapping
  * sum of a 64-bit hash of every row, over every column. Equal multisets
  * of rows give equal sums whatever order the rows arrive in. */
object Checksum {
  private def h(v: Any, seed: Int): Int = v match {
    case null => MurmurHash3.mix(seed, 0x9e3779b9)
    case d: Double => MurmurHash3.mix(seed, java.lang.Double.hashCode(d))
    case f: Float => MurmurHash3.mix(seed, java.lang.Double.hashCode(f.toDouble))
    case l: Long => MurmurHash3.mix(seed, java.lang.Long.hashCode(l))
    case i: Int => MurmurHash3.mix(seed, i)
    case s: Short => MurmurHash3.mix(seed, s.toInt)
    case b: Byte => MurmurHash3.mix(seed, b.toInt)
    case b: Boolean => MurmurHash3.mix(seed, if (b) 1 else 2)
    case s: String => MurmurHash3.stringHash(s, seed)
    case d: java.math.BigDecimal => MurmurHash3.stringHash(d.toPlainString, seed)
    case t: java.sql.Timestamp =>
      MurmurHash3.mix(MurmurHash3.mix(seed, java.lang.Long.hashCode(t.getTime)), t.getNanos)
    case t: java.time.LocalDateTime => MurmurHash3.stringHash(t.toString, seed)
    case t: java.time.Instant => MurmurHash3.stringHash(t.toString, seed)
    case d: java.sql.Date => MurmurHash3.stringHash(d.toString, seed)
    case d: java.time.LocalDate => MurmurHash3.stringHash(d.toString, seed)
    case a: Array[Byte] => MurmurHash3.bytesHash(a, seed)
    case r: Row => r.toSeq.foldLeft(MurmurHash3.mix(seed, r.length))((acc, x) => h(x, acc))
    case m: scala.collection.Map[_, _] =>
      MurmurHash3.mix(seed, m.iterator.map { case (k, x) => h(x, h(k, 17)) }.sum)
    case s: scala.collection.Seq[_] => s.foldLeft(MurmurHash3.mix(seed, s.length))((acc, x) => h(x, acc))
    case other => MurmurHash3.stringHash(other.getClass.getName + ":" + other, seed)
  }

  def row(r: Row): Long = (h(r, 0x5bd1e995).toLong << 32) | (h(r, 0x1b873593).toLong & 0xffffffffL)

  def of(rows: Iterable[Row]): Long = rows.foldLeft(0L)(_ + row(_))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Peak resident memory of this process, MiB (Linux VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Data-independent CPU probe: a fixed-size integer hash loop on the
    * driver thread, best of three. It reads no table and touches no
    * Spark code, so it moves only when the host does. */
  def calCpuSeconds(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L; var i = 0L
      while (i < 60000000L) { acc += java.lang.Long.rotateLeft(i * 0x9E3779B97F4A7C15L, 17) ^ acc; i += 1 }
      if (acc == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(3)(once()).min
  }
}
