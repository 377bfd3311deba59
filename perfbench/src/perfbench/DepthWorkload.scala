package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pileup.{Cigar, Pileup}
import graft.sources.{Bam, Bgzf}

/** The depth workload: seeded alignments written once per generation as
  * sharded BAM (`Bam.writeShards`), then a `BamDataSource` scan feeding
  * `Pileup.depth` in block mode.
  *
  * Reads are 100-150 reference bases: 70% on 3000 target regions of
  * 300-2000 bp, 25% uniform over the genome, 5% on one 2 kb hot spot on
  * chr1 (about 470x). CIGARs: 72% plain `M`, 8% spliced (`N`, 100-5000
  * bp), 4% with a deletion, 4% with an insertion, 8% soft-clipped, 4%
  * `=`/`X`. 6% of reads carry a flag in the default filter mask 1796
  * (unmapped, secondary, QC-fail, duplicate). Two fixed reads near the
  * end of chrY, where no seeded read reaches, are the fault probe (see
  * [[DepthWorkload.Probe]]). */
final class DepthWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import DepthWorkload._
  private val bamDir = s"$dir/reads.bam"
  var reads: Reads = _

  def generate(): Unit = {
    reads = genReads(new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 3))
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(reads)
    val names = Genome.names
    val df = spark.range(0, reads.size, 1, spark.sparkContext.defaultParallelism).map { i =>
      val r = bc.value
      val k = i.toInt
      (names(r.contig(k)), r.start(k), r.flags(k), r.mapq(k), r.cigar(k))
    }.toDF("chrom", "start", "flags", "mapping_quality", "cigar")
    Bam.writeShards(df, bamDir, Genome.contigs.toSeq)
    bc.destroy()
  }

  private def scan: DataFrame =
    spark.read.format("graft.sources.BamDataSource").option("path", bamDir).load()

  val ops: Seq[Op] = Seq(Op("depth", () => Pileup.depth(scan)))
  override val probes: Seq[String] = Seq(Probe.name)
  // the pass after the capturing warm-up still runs a tenth to a half
  // slower than the next ones (the JIT is still compiling)
  override val warmPasses = 2
  override val minPasses = 2

  var lastBlocks = 0L
  var lastSplits = 0L

  def capture(op: Op, out: DataFrame, perturb: Boolean): () => Check.Outcome = {
    import spark.implicits._
    val got = out.select("contig", "pos_start", "pos_end", "coverage")
      .as[(String, Long, Long, Int)].collect()
    lastBlocks = got.length
    if (perturb && got.nonEmpty) got(0) = got(0).copy(_2 = got(0)._2 + 1)
    () => {
      val want = expected(reads)
      val still = unchanged(reads)
      val (joined, splits) = joinSplits(got, still)
      lastSplits = splits
      val (gotProbe, wantProbe) = (got.filter(Probe.contains).sortBy(_._2), want.filter(Probe.contains))
      Map(
        op.name -> difference("depth", joined, want),
        Probe.name -> (
          if (gotProbe.sameElements(wantProbe)) None
          else difference(Probe.name, joinSplits(gotProbe, still)._1, wantProbe) match {
            case None => Some(Check.KnownFault + "depth splits a block where one read ends right " +
              s"before the next starts: got ${gotProbe.mkString(" ")}, want ${wantProbe.mkString(" ")}")
            case other => other
          }))
    }
  }

  def layerMetrics(rec: Recorder): Map[String, Double] = {
    val shards = new java.io.File(bamDir).listFiles().filter(_.getName.endsWith(".bam"))
    val bamBytes = shards.map(_.length).sum
    val scanS = rec.span("BamDataSource scan", "kernel") {
      Workload.kernelNs(1, reps = 3) {
        scan.select("chrom", "start", "flags", "cigar", "mapping_quality")
          .write.format("noop").mode("overwrite").save()
      } / 1e9
    }
    val buf = new Array[Byte](1 << 16)
    var inflated = 0L
    val inflateS = rec.span("Bgzf inflate", "kernel") {
      Workload.kernelNs(1, reps = 3) {
        inflated = 0L
        shards.foreach { f =>
          val in = new Bgzf.BlockInputStream(
            new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16))
          try {
            var n = in.read(buf, 0, buf.length)
            while (n >= 0) { inflated += n; n = in.read(buf, 0, buf.length) }
          } finally in.close()
        }
      } / 1e9
    }
    val packed = reads.cigar.map { c =>
      val ops = Bam.packCigar(c)
      val b = java.nio.ByteBuffer.allocate(ops.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      ops.foreach(b.putInt)
      b.array()
    }
    var sink = 0L
    val cigarNs = rec.span("Cigar.coveredSegmentsBinary", "kernel") {
      Workload.kernelNs(packed.length) {
        var i = 0
        while (i < packed.length) {
          sink += Cigar.coveredSegmentsBinary(reads.start(i), packed(i)).length; i += 1
        }
      }
    }
    if (sink == 42L) System.err.print("")
    Map("sources.bam_scan_s" -> scanS, "sources.bam_mb" -> bamBytes / 1048576.0,
      "sources.bgzf_inflate_mb_s" -> inflated / 1048576.0 / inflateS,
      "pileup.cigar_ns" -> cigarNs, "pileup.blocks" -> lastBlocks.toDouble,
      "pileup.split_blocks" -> lastSplits.toDouble)
  }
}

object DepthWorkload {
  val ReadCount = 150000
  val Targets = 3000
  val FilterMask = 1796

  /** The fault probe: two reads where the first ends right before the
    * second starts, so the depth stays 1 across the seam, and a run-length
    * encoding has one block there. `Pileup.depth` splits it in two (the
    * seam carries events of zero net delta). Seeded reads start at least
    * 8 kb before a contig's end and span at most 5.2 kb, so none reaches
    * the probe's positions. */
  object Probe {
    val name = "depth_probe"
    val contig: Int = Genome.names.indexOf("chrY")
    val start: Long = Genome.lengths(contig) - 1400
    val cigars: Seq[(Long, String)] = Seq((start, "100M"), (start + 100, "100M"))
    def contains(b: (String, Long, Long, Int)): Boolean =
      b._1 == Genome.names(contig) && b._2 >= start
  }

  final class Reads(val contig: Array[Int], val start: Array[Long], val flags: Array[Int],
      val mapq: Array[Int], val cigar: Array[String]) extends Serializable {
    def size: Int = contig.length
  }

  def genReads(r: SplittableRandom): Reads = {
    val tc = Array.fill(Targets)(Genome.pick(r))
    val ts = tc.map(c => 1L + r.nextLong(Genome.lengths(c) - 10000))
    val tl = Array.fill(Targets)(300 + r.nextInt(1700))
    val hot = 1000000L + r.nextLong(100000000L)
    val n = ReadCount + Probe.cigars.length
    val contig = new Array[Int](n); val start = new Array[Long](n)
    val flags = new Array[Int](n); val mapq = new Array[Int](n); val cigar = new Array[String](n)
    val plainFlags = Array(0, 16, 99, 147, 83, 163)
    val maskFlags = Array(4, 256, 512, 1024)
    for (i <- 0 until ReadCount) {
      val u = r.nextInt(100)
      if (u < 70) {
        val t = r.nextInt(Targets)
        contig(i) = tc(t); start(i) = math.max(1L, ts(t) - 100 + r.nextInt(tl(t) + 100))
      } else if (u < 95) {
        val c = Genome.pick(r)
        contig(i) = c; start(i) = 1L + r.nextLong(Genome.lengths(c) - 10000)
      } else {
        contig(i) = 0; start(i) = hot + r.nextInt(2000)
      }
      val len = 100 + r.nextInt(51)
      val a = 20 + r.nextInt(len - 40)
      val k = r.nextInt(100)
      cigar(i) =
        if (k < 72) s"${len}M"
        else if (k < 80) s"${a}M${100 + r.nextInt(4900)}N${len - a}M"
        else if (k < 84) s"${a}M${1 + r.nextInt(10)}D${len - a}M"
        else if (k < 88) s"${a}M${1 + r.nextInt(10)}I${len - a}M"
        else if (k < 92) s"${5 + r.nextInt(25)}S${len}M"
        else if (k < 96) s"${len}M${5 + r.nextInt(25)}S"
        else s"$a=1X${len - a - 1}="
      flags(i) =
        if (r.nextInt(100) < 6) maskFlags(r.nextInt(maskFlags.length)) | plainFlags(r.nextInt(3))
        else plainFlags(r.nextInt(plainFlags.length))
      mapq(i) = r.nextInt(61)
    }
    Probe.cigars.zipWithIndex.foreach { case ((s, c), j) =>
      val i = ReadCount + j
      contig(i) = Probe.contig; start(i) = s; flags(i) = 0; mapq(i) = 60; cigar(i) = c
    }
    new Reads(contig, start, flags, mapq, cigar)
  }

  /** Per contig, the sorted start and end (exclusive) positions of the
    * reads' covered segments: `M`, `=`, `X` cover; `D`, `N` skip; `I`,
    * `S`, `H`, `P` consume nothing; reads with `flags & 1796` are dropped. */
  private def segments(reads: Reads): Array[(Array[Long], Array[Long])] = {
    val up = Array.fill(Genome.names.length)(ArrayBuffer.empty[Long])
    val down = Array.fill(Genome.names.length)(ArrayBuffer.empty[Long])
    for (i <- 0 until reads.size if (reads.flags(i) & FilterMask) == 0) {
      var pos = reads.start(i)
      val c = reads.cigar(i)
      var len = 0L
      var j = 0
      while (j < c.length) {
        val ch = c.charAt(j)
        if (ch.isDigit) len = len * 10 + (ch - '0')
        else {
          ch match {
            case 'M' | '=' | 'X' => up(reads.contig(i)) += pos; down(reads.contig(i)) += pos + len; pos += len
            case 'D' | 'N' => pos += len
            case _ =>
          }
          len = 0L
        }
        j += 1
      }
    }
    up.indices.map { c =>
      val s = up(c).toArray; val e = down(c).toArray
      java.util.Arrays.sort(s); java.util.Arrays.sort(e)
      (s, e)
    }.toArray
  }

  /** Walk the difference array of each contig in name order: `visit`
    * gets (contig, position, depth before, depth from here on) at every
    * position where a segment starts or ends. */
  private def sweep(reads: Reads)(visit: (String, Long, Int, Int) => Unit): Unit = {
    val segs = segments(reads)
    for (c <- Genome.names.indices.sortBy(Genome.names(_))) {
      val (s, e) = segs(c)
      var i = 0; var j = 0; var depth = 0
      while (i < s.length || j < e.length) {
        val p = if (j >= e.length || (i < s.length && s(i) < e(j))) s(i) else e(j)
        val before = depth
        while (i < s.length && s(i) == p) { depth += 1; i += 1 }
        while (j < e.length && e(j) == p) { depth -= 1; j += 1 }
        visit(Genome.names(c), p, before, depth)
      }
    }
  }

  /** Run-length-encoded depth from a difference array over the reads'
    * covered segments. Blocks are (contig, start, end inclusive, depth >
    * 0), 1-based, in (contig name, start) order and maximal: adjacent
    * positions of equal depth share one block. */
  def expected(reads: Reads): Array[(String, Long, Long, Int)] = {
    val out = ArrayBuffer.empty[(String, Long, Long, Int)]
    var runStart = -1L
    sweep(reads) { (contig, p, before, depth) =>
      if (depth != before) {
        if (before > 0) out += ((contig, runStart, p - 1, before))
        runStart = p
      }
    }
    out.toArray
  }

  /** Covered positions where segments start or end with zero net change
    * of the depth: the only places a correct encoding never splits and
    * `Pileup.depth` does. */
  def unchanged(reads: Reads): Set[(String, Long)] = {
    val out = Set.newBuilder[(String, Long)]
    sweep(reads) { (contig, p, before, depth) => if (depth == before && depth > 0) out += ((contig, p)) }
    out.result()
  }

  /** The program's blocks sorted, with a touching block of equal depth
    * joined to its predecessor where it starts at a position in
    * `unchanged`; also the number of blocks so joined. A split anywhere
    * else stays, so the comparison with [[expected]] fails on it. */
  def joinSplits(blocks: Array[(String, Long, Long, Int)], unchanged: Set[(String, Long)])
      : (Array[(String, Long, Long, Int)], Long) = {
    val sorted = blocks.sortBy(b => (b._1, b._2))
    val out = ArrayBuffer.empty[(String, Long, Long, Int)]
    var joined = 0L
    sorted.foreach { b =>
      if (out.nonEmpty && out.last._1 == b._1 && out.last._3 + 1 == b._2 && out.last._4 == b._4 &&
          unchanged.contains((b._1, b._2))) {
        out(out.length - 1) = out.last.copy(_3 = b._3)
        joined += 1
      } else out += b
    }
    (out.toArray, joined)
  }

  def difference(what: String, got: Array[(String, Long, Long, Int)],
      want: Array[(String, Long, Long, Int)]): Option[String] =
    if (got.sameElements(want)) None
    else Some(s"$what: ${got.length} blocks, ${want.length} expected; first difference " +
      got.toSeq.zipAll(want.toSeq, null, null).find { case (a, b) => a != b }.getOrElse(""))
}
