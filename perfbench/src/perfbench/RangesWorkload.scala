package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.index.{ContigIntervalIndex, CountOverlapIndex, CoverageIndex, NearestIndex}
import graft.ranges.Ranges

/** Intervals in column form; the row id is the array index. Coordinates
  * are 1-based closed (the library's weak convention). */
final class Intervals(val contig: Array[Int], val start: Array[Long], val end: Array[Long]) {
  def size: Int = contig.length

  /** Per contig: indices sorted by (start, end, id). */
  lazy val byContig: Array[Array[Int]] = {
    val groups = Array.fill(Genome.names.length)(ArrayBuffer.empty[Int])
    var i = 0
    while (i < size) { groups(contig(i)) += i; i += 1 }
    groups.map { g =>
      val boxed = g.map(Int.box).toArray
      java.util.Arrays.sort(boxed, (a: Integer, b: Integer) => {
        val x = a.intValue; val y = b.intValue
        if (start(x) != start(y)) java.lang.Long.compare(start(x), start(y))
        else if (end(x) != end(y)) java.lang.Long.compare(end(x), end(y))
        else Integer.compare(x, y)
      })
      boxed.map(_.intValue)
    }
  }

  /** Per contig: weak-merged runs (`start <= running end` joins) as
    * (starts, ends). */
  lazy val merged: Array[(Array[Long], Array[Long])] = byContig.map { idx =>
    val ms = ArrayBuffer.empty[Long]; val me = ArrayBuffer.empty[Long]
    idx.foreach { i =>
      if (ms.nonEmpty && start(i) <= me.last) {
        if (end(i) > me.last) me(me.length - 1) = end(i)
      } else { ms += start(i); me += end(i) }
    }
    (ms.toArray, me.toArray)
  }
}

/** The interval-algebra workload: the broadcast-index interval operators
  * (count_overlaps, coverage, nearest, subtract) plus the SQL range join
  * the interval-join strategy rewrites, over two seeded tables on the
  * human contig set.
  *
  *  - targets (the build side): gene-like spans of 8-128 kb, each with
  *    6-14 exon-like intervals of 50-300 bp, plus a tail of 0.5-2 Mb
  *    intervals nesting over the genes;
  *  - reads (the probe side): 100-150 bp intervals, half of them on
  *    exons, a fifth on 30 one-kilobase hot spots, the rest uniform.
  *
  * The shuffle-path operators (the grid-bucket co-shuffle overlap and
  * the island sweeps merge, cluster, complement) are left out: their
  * first executions and timed passes cost 6-8 s of a run each, more than
  * the benchmark's run budget holds. */
final class RangesWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import RangesWorkload._
  private val targetsPath = s"$dir/targets.parquet"
  private val readsPath = s"$dir/reads.parquet"
  var targets: Intervals = _
  var reads: Intervals = _

  def generate(): Unit = {
    targets = genTargets(new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 1))
    reads = genReads(new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 2), targets)
    write(targets, targetsPath)
    write(reads, readsPath)
  }

  private def write(iv: Intervals, path: String): Unit = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((iv.contig, iv.start, iv.end))
    val names = Genome.names
    val parts = spark.sparkContext.defaultParallelism
    spark.range(0, iv.size, 1, parts).map { i =>
      val (c, s, e) = bc.value
      val k = i.toInt
      (names(c(k)), s(k), e(k), i)
    }.toDF("contig", "pos_start", "pos_end", "id")
      .write.mode("overwrite").parquet(path)
    bc.destroy()
  }

  private def t: DataFrame = spark.read.parquet(targetsPath)
  private def r: DataFrame = spark.read.parquet(readsPath)

  private val pairCols = Seq("left_id", "left_pos_start", "left_pos_end",
    "right_id", "right_pos_start", "right_pos_end")

  val ops: Seq[Op] = Seq(
    Op("overlap", () => {
      t.createOrReplaceTempView("targets")
      r.createOrReplaceTempView("reads")
      spark.sql(
        """SELECT t.contig AS left_contig, t.pos_start AS left_pos_start,
          |  t.pos_end AS left_pos_end, t.id AS left_id,
          |  r.contig AS right_contig, r.pos_start AS right_pos_start,
          |  r.pos_end AS right_pos_end, r.id AS right_id
          |FROM targets t JOIN reads r
          |  ON t.contig = r.contig AND t.pos_start <= r.pos_end AND t.pos_end >= r.pos_start""".stripMargin)
    }),
    Op("count_overlaps", () => Ranges.countOverlaps(t, r)),
    Op("coverage", () => Ranges.coverage(t, r)),
    Op("nearest", () => Ranges.nearest(t, r, k = 1, tieBreakCol = Some("id"))),
    Op("subtract", () => Ranges.subtract(r, t)))

  // the pass after the capturing warm-up still runs about half again
  // slower than the next ones (the JIT is still compiling)
  override val warmPasses = 2
  override val minPasses = 2

  /** The output columns each check fingerprints, in reference-field order. */
  private def canonical(op: String, df: DataFrame): DataFrame = op match {
    case "overlap" => df.select(pairCols.map(col): _*)
    case "count_overlaps" => df.select("id", "pos_start", "pos_end", "count")
    case "coverage" => df.select("id", "pos_start", "pos_end", "coverage")
    case "nearest" => df.select((pairCols :+ "distance").map(col): _*)
    case "subtract" => df.select("id", "pos_start", "pos_end")
  }

  def capture(op: Op, out: DataFrame, perturb: Boolean): () => Check.Outcome = {
    val got = Fingerprint.ofFrame(canonical(op.name, out), if (perturb) 1 else -1)
    () => Map(op.name -> Check.compare(op.name, got, Reference.expected(op.name, targets, reads)))
  }

  /** Index kernels called directly on the generated arrays, one thread:
    * the targets' largest contig is the build, that contig's reads the
    * probes. */
  def layerMetrics(rec: Recorder): Map[String, Double] = {
    val c = targets.byContig.indices.maxBy(targets.byContig(_).length)
    val bi = targets.byContig(c)
    val bs = bi.map(targets.start); val be = bi.map(targets.end)
    val payload = Array.range(0, bi.length)
    val qi = reads.byContig(c)
    val qs = qi.map(reads.start); val qe = qi.map(reads.end)
    val nq = qs.length.toLong
    def kernel(name: String, units: Long)(body: => Unit): Double =
      rec.span(name, "kernel")(Workload.kernelNs(units)(body))
    val buildNs = kernel("IntervalIndex.build", bi.length)(ContigIntervalIndex.build(bs, be, payload))
    val idx = ContigIntervalIndex.build(bs, be, payload)
    var hits = 0L
    val queryNs = kernel("IntervalIndex.query", nq) {
      hits = 0L
      var i = 0
      while (i < qs.length) { idx.query(qs(i), qe(i))(_ => hits += 1); i += 1 }
    }
    val counter = CountOverlapIndex.build(bs, be)
    var sink = 0L
    val countNs = kernel("CountOverlapIndex.count", nq) {
      var i = 0
      while (i < qs.length) { sink += counter.count(qs(i), qe(i)); i += 1 }
    }
    val cov = CoverageIndex.build(bs, be)
    val coverageNs = kernel("CoverageIndex.coverage", nq) {
      var i = 0
      while (i < qs.length) { sink += cov.coverage(qs(i), qe(i)); i += 1 }
    }
    val near = NearestIndex.build(bs, be, payload)
    val nearestNs = kernel("NearestIndex.nearestK", nq) {
      var i = 0
      while (i < qs.length) { near.nearestK(qs(i), qe(i), 1, true)((p, d) => sink += p + d); i += 1 }
    }
    if (sink == 42L) System.err.print("") // keep the kernel results live
    Map("index.build_ns" -> buildNs, "index.query_ns" -> queryNs,
      "index.hits_per_query" -> hits.toDouble / nq, "index.count_ns" -> countNs,
      "index.coverage_ns" -> coverageNs, "index.nearest_ns" -> nearestNs)
  }
}

object RangesWorkload {
  val Genes = 3000
  val TailIntervals = 200
  val Reads = 150000
  val HotSpots = 30

  def genTargets(r: SplittableRandom): Intervals = {
    val c = ArrayBuffer.empty[Int]; val s = ArrayBuffer.empty[Long]; val e = ArrayBuffer.empty[Long]
    def add(ci: Int, a: Long, b: Long): Unit = { c += ci; s += a; e += b }
    for (g <- 0 until Genes) {
      // the first genes seed every contig, so no probe contig lacks a build side
      val ci = if (g < Genome.names.length) g else Genome.pick(r)
      val span = 8000 + r.nextInt(120000)
      val gs = 1L + r.nextLong(Genome.lengths(ci) - span - 1)
      add(ci, gs, gs + span - 1)
      val n = 6 + r.nextInt(9)
      val slot = span / n
      for (k <- 0 until n) {
        val es = gs + k.toLong * slot + r.nextInt(math.max(1, slot - 400))
        add(ci, es, es + 49 + r.nextInt(250))
      }
    }
    for (_ <- 0 until TailIntervals) {
      val ci = Genome.pick(r)
      val span = 500000 + r.nextInt(1500000)
      val ts = 1L + r.nextLong(math.max(1L, Genome.lengths(ci) - span - 1))
      add(ci, ts, ts + span - 1)
    }
    new Intervals(c.toArray, s.toArray, e.toArray)
  }

  def genReads(r: SplittableRandom, targets: Intervals): Intervals = {
    // exons are every target shorter than 1 kb
    val exons = (0 until targets.size).filter(i => targets.end(i) - targets.start(i) < 1000).toArray
    val hot = Array.fill(HotSpots)(exons(r.nextInt(exons.length)))
    val c = new Array[Int](Reads); val s = new Array[Long](Reads); val e = new Array[Long](Reads)
    for (i <- 0 until Reads) {
      val len = 100 + r.nextInt(51)
      val u = r.nextInt(10)
      val (ci, st) =
        if (u < 5) {
          val x = exons(r.nextInt(exons.length))
          val elen = (targets.end(x) - targets.start(x) + 1).toInt
          (targets.contig(x), targets.start(x) - 75 + r.nextInt(elen + 75))
        } else if (u < 7) {
          val x = hot(r.nextInt(HotSpots))
          (targets.contig(x), targets.start(x) - 500 + r.nextInt(1000))
        } else {
          val k = Genome.pick(r)
          (k, 1L + r.nextLong(Genome.lengths(k) - 200))
        }
      c(i) = ci; s(i) = math.max(1L, st); e(i) = s(i) + len - 1
    }
    new Intervals(c, s, e)
  }
}
