package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Order statistics over latency samples, the shapes every workload reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    s(math.min(rank, s.length) - 1)
  }

  /** The highest percentile that still leaves at least 10 samples above it:
    * p = 100 * (n - 10) / n, floored to one decimal. None below 20 samples,
    * where such a percentile would sit at or under the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    if (n < 20) None
    else {
      val p = math.floor(1000.0 * (n - 10) / n) / 10.0
      Some((p, percentile(xs, p)))
    }
  }
}

/** Minimal JSON text building (numbers, strings, nested maps and lists). */
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

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** File helpers; every path the benchmark touches lives under its build dir. */
object Io {

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }

  def lines(path: Path): Seq[String] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq

  def writeLines(path: Path, rows: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try rows.foreach { r => w.write(r); w.write('\n') } finally w.close()
  }

  /** Total bytes of the regular files under `root` (0 when absent). */
  def size(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    delete(to)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Byte-level equality of two directory trees (names and contents). */
  def sameTree(a: Path, b: Path): Boolean = {
    def files(root: Path): Seq[String] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSeq.sorted
      finally s.close()
    }
    val fa = files(a)
    fa == files(b) && fa.forall { f =>
      java.util.Arrays.equals(Files.readAllBytes(a.resolve(f)), Files.readAllBytes(b.resolve(f)))
    }
  }

  def path(first: String, more: String*): Path = Paths.get(first, more: _*)

  /** The path as Spark's readers and writers take it. */
  def uri(p: Path): String = p.toAbsolutePath.toString
}

/** Seeded draws: a splittable PRNG per (seed, purpose), so adding a draw to
  * one generator never shifts another's stream. */
final class Rng(seed: Long, purpose: String) {
  private val r = new java.util.SplittableRandom(
    seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong * 0xBF58476D1CE4E5B9L)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hiInclusive: Int): Int = lo + r.nextInt(hiInclusive - lo + 1)
  def double(): Double = r.nextDouble()
  def gaussian(): Double = {
    // Box-Muller over the splittable stream (java.util.Random's gaussian
    // would need a second generator)
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
  def chance(p: Double): Boolean = r.nextDouble() < p
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

/** Zipf(s) ranks 0 until n by inverse-CDF binary search. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def draw(rng: Rng): Int = {
    val u = rng.double()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
