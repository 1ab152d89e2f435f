package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The workload a run drives: the seeded input properties every phase
  * draws from. `zipf` = 0 draws movies and statement keys uniformly;
  * above 0 it draws them from a Zipf law of that exponent (hot keys). */
final case class Workload(name: String, zipf: Double)

object Workload {
  val all: Seq[Workload] = Seq(Workload("uniform", 0.0), Workload("skewed", 1.2))
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (${all.map(_.name).mkString(", ")})"))
}

/** Everything a phase needs: the session, the run's work directory,
  * the seed, the workload, the tracer (only on a traced run) and the
  * report. */
final case class Ctx(spark: SparkSession, dir: Path, seed: Long, workload: Workload,
                     tracer: Option[Tracer], report: Report) {
  /** Times one public call: a span on a traced run, nothing otherwise. */
  def op[T](phase: String, kind: String)(body: => T): (T, Double) = {
    val id = tracer.map(_.begin(phase, kind))
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    } finally for (t <- tracer; i <- id) t.end(i)
  }
}

/** Keyed draws: uniform, or Zipf(s) over `n` ranks through its inverse
  * CDF (ranks are shuffled by a seeded permutation so hot keys land in
  * every bucket, not only at the low ids). */
final class KeyDraw(n: Int, s: Double, rng: scala.util.Random) {
  private val cdf: Array[Double] =
    if (s <= 0) Array.empty
    else {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
  private val perm: Array[Int] = rng.shuffle((0 until n).toVector).toArray
  def next(): Int =
    if (cdf.isEmpty) rng.nextInt(n)
    else {
      val u = rng.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      perm(math.min(i, n - 1))
    }
}

/** Collects what a run reports: operation counts, failures (with their
  * reasons) and named metrics with units. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]

  def attempt(n: Long = 1): Unit = attempted += n
  def fail(what: String): Unit = { failed += 1; failures += what }
  def check(ok: Boolean, what: => String): Unit = { attempted += 1; if (!ok) fail(what) }
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {${Json.str("value")}: ${num(v)}, ${Json.str("unit")}: ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val ns = notes.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")
    s"""{"attempted": $attempted, "failed": $failed, "failures": ${failures.take(20).map(Json.str).mkString("[", ", ", "]")}, "metrics": $ms, "notes": $ns}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val mx = mean(pts.map(_._1))
    val my = mean(pts.map(_._2))
    pts.map { case (x, y) => (x - mx) * (y - my) }.sum / pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
  }
}

object Check {
  /** Order-independent checksum of a result: row count plus the sum of
    * per-row hashes over a canonical rendering of each value. */
  def checksum(rows: Iterable[Row]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      n += 1
      h += scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong * 0x9E3779B97F4A7C15L
    }
    (n, h)
  }

  def canon(r: Row): String = r.toSeq.map(canonValue).mkString("|")

  private def canonValue(v: Any): String = v match {
    case null => "∅"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case n: java.lang.Number => BigDecimal(n.toString).bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => "(" + canon(r) + ")"
    case x => x.toString
  }

  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    checksum(a.collect()) == checksum(b.select(cols.map(b.col): _*).collect())
  }
}

object Files2 {
  /** Bytes and file count under a directory. */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L
        var files = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }

  /** Every regular file under `p` with its size, keyed by relative path. */
  def listing(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        val b = Map.newBuilder[String, Long]
        s.filter(Files.isRegularFile(_)).forEach(f => b += p.relativize(f).toString -> Files.size(f))
        b.result()
      } finally s.close()
    }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }
}
