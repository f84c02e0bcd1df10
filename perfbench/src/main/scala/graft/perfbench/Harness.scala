package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}

/** One timed operation: a query, a source landing or read, or a
  * micro-batch. `error` is set when the call threw or its output check
  * failed; such an op counts in `error_rate` and never in latency or
  * throughput. `rows` are the input rows it landed or verdicted. */
final class Op(val id: Int, val layer: String, val kind: String) {
  var ms = 0.0
  var rows = 0L
  var error: Option[String] = None
  def ok: Boolean = error.isEmpty
  def fail(cause: String): Unit = if (error.isEmpty) error = Some(cause)
  def expect(cond: Boolean, cause: => String): Unit = if (!cond) fail(cause)
}

/** What a workload hands back besides its ops. */
final case class Outcome(storedPerLive: Double, perLayer: Map[String, (Double, String)],
                         notes: Seq[String] = Nil)

/** Everything a workload needs: the session, a fresh scratch root, the
  * tracer and the op log. */
final class Ctx(val spark: SparkSession, val work: Path, val home: Path,
                val tracer: Tracer, val seed: Long, val seconds: Int,
                val smoke: Boolean, val plantWrong: Option[String]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Failed checks outside any op: the set-up pass and the end state. */
  val checkErrors = mutable.ArrayBuffer.empty[String]
  var setupS = 0.0
  var timedStartNs = 0L
  var timedEndNs = 0L
  var rt0: JvmStats = _
  var rt1: JvmStats = _

  /** Set-up ends here: ops and layer counters start from zero. */
  def startTimed(): Unit = {
    ops.clear()
    tracer.reset()
    setupS = JvmStats.sinceJvmStartS()
    rt0 = JvmStats.now()
    timedStartNs = System.nanoTime()
  }

  /** The timed phase ends here; later work (final checks) is not counted. */
  def endTimed(): Unit = {
    timedEndNs = System.nanoTime()
    rt1 = JvmStats.now()
    tracer.stop()
  }

  /** Run `body` as one timed op under a `layer` span. */
  def op[A](layer: String, kind: String)(body: => A): (Op, Option[A]) = {
    val o = new Op(ops.size, layer, kind)
    ops += o
    tracer.currentOp = o.id
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.span(layer, s"op:$kind")(body))
      catch { case NonFatal(e) => o.fail(Check.describe(e)); None }
    o.ms = (System.nanoTime() - t0) / 1e6
    tracer.currentOp = -1
    (o, r)
  }

  /** Log a set-up milestone (seconds since JVM start) to stderr. */
  def phase(name: String): Unit = System.err.println(f"[perfbench] ${JvmStats.sinceJvmStartS()}%.1f s $name")

  /** A benchmark-to-layer call outside any op (set-up, input derivation). */
  def call[A](layer: String, name: String)(body: => A): A = tracer.span(layer, name)(body)

  def dir(name: String): String = {
    val p = work.resolve(name); Files.createDirectories(p); p.toString
  }
}

object Check {
  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
    s"threw ${root.getClass.getSimpleName}: ${msg.take(160)}"
  }

  /** Canonical text of one value: the same string for a value whether it
    * comes out of a Spark row or out of the benchmark's own model. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d == 0.0) "0.0" else if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canon(b.bigDecimal)
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.LocalDateTime => t.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def h64(s: String): Long = {
    val b = s.getBytes("UTF-8")
    val a = scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61)
    val c = scala.util.hashing.MurmurHash3.bytesHash(b, 0x12fe5c8b)
    (a.toLong << 32) ^ (c.toLong & 0xffffffffL)
  }

  /** Order-independent checksum of a bag of rows: (count, Σ row hashes). */
  final case class Sum(rows: Long, hash: Long) {
    def +(o: Sum): Sum = Sum(rows + o.rows, hash + o.hash)
    override def toString: String = s"$rows:${java.lang.Long.toHexString(hash)}"
  }
  def ofRows(rows: Iterator[Row]): Sum =
    rows.foldLeft(Sum(0, 0)) { (s, r) => Sum(s.rows + 1, s.hash + h64(canon(r))) }
  def ofValues(rows: Iterator[Seq[Any]]): Sum = ofRows(rows.map(Row.fromSeq))

  /** Per-partition checksums of a frame: collected, ONE Spark job that
    * touches every column of every row — the same work a noop sink does,
    * plus the hash. */
  def partitionSums(df: DataFrame): Dataset[(Long, Long)] = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    df.mapPartitions { it => val s = ofRows(it); Iterator((s.rows, s.hash)) }(enc)
  }
  def total(sums: Array[(Long, Long)]): Sum =
    sums.foldLeft(Sum(0, 0)) { case (a, (n, h)) => a + Sum(n, h) }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis quantile: a weighted mean of every order statistic, the
    * i-th of n weighted by the Beta((n+1)q, (n+1)(1-q)) mass on
    * [(i-1)/n, i/n]. A fixed op mix has gaps between the costs of its op
    * kinds; where a quantile falls in one, linear interpolation follows
    * the one or two samples at its edge, and this weighs the samples
    * around it. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val n = s.size
      val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, (n + 1) * q, (n + 1) * (1 - q)))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }

  /** Bytes of regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
}

object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally st.close()
  }
}
