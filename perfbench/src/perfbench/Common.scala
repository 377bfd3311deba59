package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** The contig set: GRCh38's primary chromosomes with their real lengths. */
object Genome {
  val contigs: Array[(String, Int)] = Array(
    "chr1" -> 248956422, "chr2" -> 242193529, "chr3" -> 198295559,
    "chr4" -> 190214555, "chr5" -> 181538259, "chr6" -> 170805979,
    "chr7" -> 159345973, "chr8" -> 145138636, "chr9" -> 138394717,
    "chr10" -> 133797422, "chr11" -> 135086622, "chr12" -> 133275309,
    "chr13" -> 114364328, "chr14" -> 107043718, "chr15" -> 101991189,
    "chr16" -> 90338345, "chr17" -> 83257441, "chr18" -> 80373285,
    "chr19" -> 58617616, "chr20" -> 64444167, "chr21" -> 46709983,
    "chr22" -> 50818468, "chrX" -> 156040895, "chrY" -> 57227415)
  val names: Array[String] = contigs.map(_._1)
  val lengths: Array[Long] = contigs.map(_._2.toLong)
  private val cumulative: Array[Long] = lengths.scanLeft(0L)(_ + _).tail

  /** A contig index drawn with probability proportional to its length. */
  def pick(r: java.util.SplittableRandom): Int = {
    val x = r.nextLong(cumulative.last)
    val i = java.util.Arrays.binarySearch(cumulative, x + 1)
    if (i >= 0) i else -i - 1
  }
}

/** Order-free fingerprint of a row multiset: row count plus the wrapping
  * sum of a 64-bit mix of each row's fields. Equal multisets give equal
  * fingerprints; a single changed field changes the sum. */
final case class Fingerprint(rows: Long, sum: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, sum + o.sum)
}

object Fingerprint {
  val empty: Fingerprint = Fingerprint(0L, 0L)

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rowHash(fields: Array[Long]): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < fields.length) { h = mix(h * 31 + fields(i)); i += 1 }
    h
  }

  def of(rows: Iterator[Array[Long]]): Fingerprint = {
    var n = 0L; var s = 0L
    rows.foreach { f => n += 1; s += rowHash(f) }
    Fingerprint(n, s)
  }

  /** A field value as a Long: integral values as-is, strings by a
    * stable hash, null as a fixed sentinel. */
  def field(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case s: String => s.hashCode.toLong
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case other => other.toString.hashCode.toLong
  }

  /** Fingerprint of a frame computed on the executors. With
    * `perturbField >= 0`, one row (the first of the lowest-numbered
    * non-empty partition) has that field shifted by one first: the
    * deliberately wrong output the checks must reject. */
  def ofFrame(df: DataFrame, perturbField: Int = -1): Fingerprint = {
    val parts = df.rdd.mapPartitionsWithIndex { (pi, it: Iterator[Row]) =>
      var n = 0L; var s = 0L; var delta = 0L; var first = true
      it.foreach { r =>
        val f = Array.tabulate(r.length)(i => field(r.get(i)))
        val h = rowHash(f)
        if (first && perturbField >= 0) {
          f(perturbField) += 1
          delta = rowHash(f) - h
        }
        first = false
        n += 1; s += h
      }
      Iterator((pi, n, s, delta))
    }.collect()
    val base = Fingerprint(parts.map(_._2).sum, parts.map(_._3).sum)
    if (perturbField < 0) base
    else parts.filter(_._2 > 0).sortBy(_._1).headOption
      .map(p => base.copy(sum = base.sum + p._4)).getOrElse(base)
  }
}

/** Results of output checks: `None` passes, `Some(reason)` fails. */
object Check {
  /** Operation or probe name -> its result. */
  type Outcome = Map[String, Option[String]]

  /** Prefix of a probe's failure caused by a known program fault that
    * the probe's fixed, seed-independent inputs provoke in every run. */
  val KnownFault = "known fault: "

  def compare(what: String, got: Fingerprint, want: Fingerprint): Option[String] =
    if (got == want) None
    else Some(s"$what: got ${got.rows} rows (sum ${got.sum}), want ${want.rows} rows (sum ${want.sum})")
}

/** Binary searches for the reference computations. */
object Sorted {
  /** First index in ascending `a` with `a(i) > key`. */
  def upper(a: Array[Long], key: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) <= key) lo = m + 1 else hi = m }
    lo
  }

  /** First index in ascending `a` with `a(i) >= key`. */
  def lower(a: Array[Long], key: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < key) lo = m + 1 else hi = m }
    lo
  }
}
