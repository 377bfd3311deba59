package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.vep.{Allele, Annotate, Vep}

/** The annotation workload: a seeded bgzipped VCF read through
  * `VcfDataSource`, `Annotate.annotate` with the `--everything` options,
  * and the annotated VCF written with `Vep.toAnnotatedVcfLines` +
  * `Vep.writeVcf`.
  *
  * Context: 500 genes of 8-60 kb with 1-3 transcripts each (4-10 exons,
  * 60% protein-coding), SIFT and PolyPhen rows for the first 30 protein
  * positions of every coding transcript, 800 regulatory features and
  * 800 motifs near genes, and a variation cache of planted exact
  * matches, decoys and 20k background rows (bare contig names, as in
  * Ensembl caches). Variants: 80% within 4 kb of a transcript, 10%
  * planted more than 5 kb from every transcript and off every
  * regulatory feature and motif, 10% uniform; 80% SNVs, 10% one-base
  * deletions, 10% one-base insertions. 40% have a planted exact cache
  * match and 10% a decoy (position shifted by 3 or alleles swapped). */
final class AnnotateWorkload(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import AnnotateWorkload._
  private val vcfPath = s"$dir/variants.vcf.gz"
  private val outPath = s"$dir/annotated.vcf"
  private def table(n: String): DataFrame = spark.read.parquet(s"$dir/$n.parquet")
  var data: Data = _

  def generate(): Unit = {
    data = genData(new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 4))
    writeVcf()
    writeTables()
  }

  private def writeVcf(): Unit = {
    val f = new java.io.File(vcfPath)
    f.getParentFile.mkdirs()
    val out = new graft.sources.Bgzf.BlockOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(f)))
    try {
      val w = new java.io.OutputStreamWriter(out, "UTF-8")
      w.write("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
      val v = data.variants
      v.indices.sortBy(i => (v(i).contig, v(i).pos)).foreach { i =>
        val x = v(i)
        w.write(s"${Genome.names(x.contig)}\t${x.pos}\t${x.id}\t${x.ref}\t${x.alt}\t50\tPASS\t.\n")
      }
      w.flush()
    } finally out.close()
  }

  private def writeTables(): Unit = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    def save(df: DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$n.parquet")
    def small(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

    save(small(data.transcripts.map(_.row), Transcript.schema), "transcripts")
    save(data.transcripts.flatMap(t => t.exons.map { case (s, e) => (t.id, s, e) })
      .toDF("transcript_id", "start", "end"), "exons")
    save(small(data.features.map(_.regulatoryRow), Feature.regulatorySchema), "regulatory")
    save(small(data.motifs.map(_.motifRow), Feature.motifSchema), "motifs")

    // SIFT / PolyPhen: every amino acid at the first 30 protein positions
    // of each coding transcript, scores from a seeded hash
    val coding = data.transcripts.filter(_.coding).map(t => (t.id, t.proteinLen))
    val aas = "ACDEFGHIKLMNPQRSTVWY"
    def predictions(score: String, salt: Long): DataFrame =
      spark.sparkContext.parallelize(coding, parts).flatMap { case (id, len) =>
        for (p <- 1 to len; a <- aas.iterator)
          yield (id, p.toLong, a.toString,
            (((id.hashCode.toLong * 31 + p) * 31 + a + salt) & 0x7fffffffL) % 1000 / 1000.0)
      }.toDF("transcript_id", "protein_pos", "aa", score)
    save(predictions("sift_score", seed), "sift")
    save(predictions("polyphen_score", seed + 7), "polyphen")

    // variation cache: core columns from the generated rows, the allele
    // frequency family from a seeded hash of the row's name
    val bc = spark.sparkContext.broadcast(data.cache)
    val core = spark.range(0, data.cache.length, 1, parts).map { i =>
      val c = bc.value(i.toInt)
      (c.chrom, c.start, c.end, c.name, c.alleles)
    }.toDF("chrom", "start", "end", "variation_name", "allele_string")
    def af(k: Int): Column =
      (pmod(xxhash64(col("variation_name"), lit(seed + k)), lit(1000L)) / 1000.0).cast("double")
    val afCols = Annotate.afCsq.map(_._2).zipWithIndex.map { case (c, k) => af(k).as(c) }
    save(core.select(Seq(col("*")) ++ afCols ++ Seq(
      when(af(90) < 0.2, lit("pathogenic")).when(af(90) < 0.5, lit("benign")).as("clin_sig"),
      when(af(91) < 0.1, lit("1")).otherwise(lit("0")).as("somatic"),
      when(af(92) < 0.3, lit("1")).otherwise(lit("0")).as("pheno"),
      lit(null).cast("string").as("pubmed")): _*), "cache")
    bc.destroy()
  }

  /** The VCF as the program reads it, plus the two columns the annotator
    * takes from a variant table: a numeric id and VCF END. */
  private def vcf: DataFrame =
    spark.read.format("graft.sources.VcfDataSource").option("path", vcfPath).load()
      .withColumn("id", col("id").cast("long"))
      .withColumn("end", col("start") + length(col("ref")) - 1)

  val ops: Seq[Op] = Seq(Op("annotate",
    build = () => {
      val v = vcf
      val ann = Annotate.annotate(v, table("cache"), table("transcripts"), table("exons"),
        table("sift"), table("polyphen"), table("regulatory"), table("motifs"))
      Vep.toAnnotatedVcfLines(v, ann)
    },
    sink = lines => Vep.writeVcf(lines, outPath, Vep.annotatedVcfHeader)))
  override val probes: Seq[String] = Seq(Probe.name)

  var lastEntries = 0L

  def capture(op: Op, out: DataFrame, perturb: Boolean): () => Check.Outcome = {
    op.sink(out)
    val written = spark.read.format("graft.sources.VcfDataSource").option("path", outPath).load()
      .select("chrom", "start", "id", "ref", "alt", "info").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3), r.getString(4), r.getString(5)))
    val header = new java.io.File(outPath).listFiles().filter(_.getName.endsWith(".vcf"))
      .headOption.map(f => scala.io.Source.fromFile(f, "UTF-8"))
      .map(s => try s.getLines().takeWhile(_.startsWith("#")).toList finally s.close())
      .getOrElse(Nil)
    lastEntries = written.map(w => csqOf(w._6).count(_ == ',') + (if (csqOf(w._6).isEmpty) 0 else 1)).sum
    if (!perturb) () => verify(data, written, header)
    else () => {
      // each perturbation alone must fail the operation's own check
      val missed = perturbations(data, written, header).filterNot { case (_, w) =>
        verify(data, w, header)(op.name).isDefined
      }.map(_._1)
      System.err.println(s"perfbench: annotate perturbations not rejected: ${missed.mkString(", ")}")
      Map(op.name -> (if (missed.isEmpty) Some("annotate: every perturbation rejected") else None))
    }
  }

  def layerMetrics(rec: Recorder): Map[String, Double] = {
    def median3(name: String)(body: => Unit): Double =
      rec.span(name, "kernel")(Workload.kernelNs(1, reps = 3)(body) / 1e9)
    val scanS = median3("VcfDataSource scan")(vcf.write.format("noop").mode("overwrite").save())
    val lookupS = median3("Vep.lookupVariants") {
      Vep.lookupVariants(vcf, table("cache")).write.format("noop").mode("overwrite").save()
    }
    val lines = ops.head.build().select("line").cache()
    lines.count()
    val writeS = median3("Vep.writeVcf")(Vep.writeVcf(lines, s"$dir/rewrite.vcf", Vep.annotatedVcfHeader))
    lines.unpersist()
    val vs = data.variants
    var sink = 0L
    val normNs = rec.span("Allele.normalize", "kernel") {
      Workload.kernelNs(vs.length) {
        vs.foreach { v =>
          sink += Allele.vepNormStart(v.pos, v.ref, v.alt) + Allele.vepNormEnd(v.pos, v.ref, v.alt)
          sink += Allele.vcfToVepAllele(v.ref, v.alt)._1.length
        }
      }
    }
    val strings = vs.map(v => data.alleleStringNear(v))
    val matchNs = rec.span("Allele.matches", "kernel") {
      Workload.kernelNs(vs.length) {
        var i = 0
        while (i < vs.length) { if (Allele.matches(vs(i).ref, vs(i).alt, strings(i))) sink += 1; i += 1 }
      }
    }
    if (sink == 42L) System.err.print("")
    Map("sources.vcf_scan_s" -> scanS, "sources.vcf_write_s" -> writeS,
      "vep.normalize_ns" -> normNs, "vep.allele_match_ns" -> matchNs,
      "vep.lookup_s" -> lookupS, "vep.entries" -> lastEntries.toDouble)
  }
}

object AnnotateWorkload {
  val Genes = 500
  val VariantCount = 3000
  val Regulatory = 800
  val Motifs = 800
  val Background = 20000
  val Distance = 5000L
  private val Bases = "ACGT"

  final case class Transcript(id: String, contig: Int, start: Long, end: Long, strand: Int,
      biotype: String, gene: String, canonical: Boolean, exons: Seq[(Long, Long)], k: Int) {
    def coding: Boolean = biotype == "protein_coding"
    def cdsStart: Long = exons.head._1 + 20
    def cdsEnd: Long = exons.last._2 - 20
    def proteinLen: Int = math.min(30, (exons.map(e => e._2 - e._1 + 1).sum / 3).toInt)
    def row: Row = Row(Genome.names(contig), start, end, id, strand, biotype, cdsStart, cdsEnd,
      gene, "SYM" + gene, if (canonical) "YES" else "", "",
      if (canonical && coding) s"NM_$k.1" else "", "", 1 + k % 5,
      Seq("P1", "P3", "A1", "")(k % 4), if (coding) s"CCDS$k.1" else "",
      if (coding && k % 2 == 0) s"SPQ$k" else "", if (coding && k % 2 == 1) s"TRQ$k" else "",
      if (coding) s"UPI$k" else "", if (coding && k % 2 == 0) s"SPQ$k-1" else "",
      if (k % 7 == 0) "1" else "", if (coding) s"Pfam:PF${k % 1000}" else "",
      if (biotype == "miRNA") s"1:2000 (${600 + k % 250}.${400 + k % 150})${1000 - k % 250 - k % 150}" else "")
  }

  object Transcript {
    private def s(n: String) = StructField(n, StringType)
    private def l(n: String) = StructField(n, LongType)
    private def i(n: String) = StructField(n, IntegerType)
    val schema: StructType = StructType(Seq(s("chrom"), l("start"), l("end"), s("transcript_id"),
      i("strand"), s("biotype"), l("cds_start"), l("cds_end"), s("gene_id"), s("symbol"),
      s("canonical"), s("flags"), s("mane_select"), s("mane_plus_clinical"), i("tsl"),
      s("appris"), s("ccds"), s("swissprot"), s("trembl"), s("uniparc"), s("uniprot_isoform"),
      s("gene_pheno"), s("domains"), s("mirna")))
  }

  final case class Feature(id: String, contig: Int, start: Long, end: Long, kind: String, score: Double) {
    def regulatoryRow: Row = Row(Genome.names(contig), start, end, id, kind)
    def motifRow: Row = Row(Genome.names(contig), start, end, id, kind, score)
  }

  object Feature {
    val regulatorySchema: StructType = StructType(Seq(StructField("chrom", StringType),
      StructField("start", LongType), StructField("end", LongType),
      StructField("feature_id", StringType), StructField("feature_type", StringType)))
    val motifSchema: StructType = StructType(Seq(StructField("chrom", StringType),
      StructField("start", LongType), StructField("end", LongType),
      StructField("motif_id", StringType), StructField("tf_name", StringType),
      StructField("score_change", DoubleType)))
  }

  /** A VCF record. `planted`: the cache row that must match (rs name);
    * `intergenic`: placed more than 5 kb from every transcript; `probe`:
    * one of the fixed transcript-end indels (see [[Probe]]). */
  final case class Variant(id: Long, contig: Int, pos: Long, ref: String, alt: String,
      planted: Option[String], intergenic: Boolean, probe: Boolean = false)

  final case class CacheRow(chrom: String, start: Long, end: Long, name: String, alleles: String)

  /** The fault probe: fixed inputs, the same on every seed, that provoke
    * a known fault: an indel whose VCF anchor base is a transcript's last
    * base gets no entry for that transcript (the up/downstream candidates
    * exclude it by its raw VCF span, which touches the transcript, while
    * the overlap candidates test its trimmed span, which lies past the
    * end). The seeded variants never take that shape, so the fault fails
    * the probe on every run and on no seed more than another. */
  object Probe {
    val name = "annotate_probe"
    val contig: Int = Genome.names.indexOf("chrY")
    val start = 20000001L
    val end = 20030000L
    def transcript: Transcript = Transcript("ENSTPROBE0001", contig, start, end, 1, "protein_coding",
      "ENSGPROBE0001", canonical = true, Seq((start, start + 999L), (end - 999L, end)), 0)
    def variants(firstId: Long): Seq[Variant] = Seq(
      Variant(firstId, contig, end, "CA", "C", None, intergenic = false, probe = true),
      Variant(firstId + 1, contig, end, "C", "CA", None, intergenic = false, probe = true))
  }

  /** The CSQ field names the written VCF's header announces. */
  def csqFormat(header: Seq[String]): Seq[String] =
    header.find(_.startsWith("##INFO=<ID=CSQ"))
      .map(h => h.substring(h.indexOf("Format: ") + 8).takeWhile(_ != '"').split("\\|", -1).toSeq)
      .getOrElse(Nil)

  /** The CSQ value of a VCF INFO column ("" when absent). */
  def csqOf(info: String): String =
    info.split(";").find(_.startsWith("CSQ=")).map(_.substring(4)).getOrElse("")

  final class Data(val transcripts: Seq[Transcript], val features: Seq[Feature],
      val motifs: Seq[Feature], val variants: Array[Variant], val cache: Array[CacheRow]) {
    private val cacheAt: Map[(String, Long), String] =
      cache.iterator.map(c => (c.chrom, c.start) -> c.alleles).toMap
    /** The allele string of a cache row at the variant's normalized start,
      * or an unrelated SNV string: the allele-matcher's input. */
    def alleleStringNear(v: Variant): String =
      cacheAt.getOrElse((bare(v.contig), vepStart(v)), "A/T")
  }

  def bare(c: Int): String = Genome.names(c).stripPrefix("chr")

  /** VEP coordinates of the generated shapes: an SNV stays put; a one-base
    * deletion or insertion drops its shared first base. */
  def vepStart(v: Variant): Long = if (v.ref.length == 1 && v.alt.length == 1) v.pos else v.pos + 1
  def vepEnd(v: Variant): Long =
    if (v.ref.length == v.alt.length) v.pos else if (v.ref.length > 1) v.pos + 1 else v.pos
  def vepAlleles(v: Variant): (String, String) =
    if (v.ref.length == v.alt.length) (v.ref, v.alt)
    else if (v.ref.length > 1) (v.ref.substring(1), "-")
    else ("-", v.alt.substring(1))

  def genData(r: SplittableRandom): Data = {
    def base(): Char = Bases.charAt(r.nextInt(4))
    val tx = ArrayBuffer.empty[Transcript]
    var k = 0
    for (g <- 0 until Genes) {
      val c = Genome.pick(r)
      val span = 8000 + r.nextInt(52000)
      val gs = 100000L + r.nextLong(Genome.lengths(c) - span - 200000)
      val strand = if (r.nextBoolean()) 1 else -1
      val biotype = r.nextInt(20) match {
        case x if x < 12 => "protein_coding"
        case x if x < 15 => "lncRNA"
        case x if x < 18 => "nonsense_mediated_decay"
        case _ => "miRNA"
      }
      for (iso <- 0 until 1 + r.nextInt(3)) {
        val ts = gs + r.nextInt(2000)
        val te = gs + span - r.nextInt(2000)
        val n = 4 + r.nextInt(7)
        val slot = (te - ts + 1) / n
        val exons = (0 until n).map { x =>
          val es = if (x == 0) ts else ts + x * slot + r.nextInt((slot / 2).toInt)
          val ee = if (x == n - 1) te else math.min(ts + (x + 1) * slot - 1, es + 80 + r.nextInt(300))
          (es, ee)
        }
        tx += Transcript(f"ENST$k%08d", c, ts, te, strand, biotype, f"ENSG$g%08d", iso == 0, exons, k)
        k += 1
      }
    }
    tx += Probe.transcript
    val txEnds = tx.iterator.map(t => (t.contig, t.end)).toSet
    def near(kind: Int, lenLo: Int, lenSpread: Int, id: Int): Feature = {
      val t = tx(r.nextInt(tx.length))
      val s = t.start - 20000 + r.nextLong(t.end - t.start + 40000)
      val len = lenLo + r.nextInt(lenSpread)
      if (kind == 0)
        Feature(f"ENSR$id%08d", t.contig, s, s + len - 1,
          Seq("promoter", "enhancer", "CTCF_binding_site")(r.nextInt(3)), 0.0)
      else
        Feature(f"ENSM$id%08d", t.contig, s, s + len - 1, Seq("CTCF", "GATA1", "TP53", "MYC")(r.nextInt(4)),
          (r.nextInt(200) - 100) / 100.0)
    }
    val regs = (0 until Regulatory).map(i => near(0, 200, 800, i))
    val mots = (0 until Motifs).map(i => near(1, 8, 13, i))

    // per contig, sorted (start - 5 kb, end + 5 kb) reach of transcripts and
    // (start, end) of features: the intergenic placement test
    def sortedBy(ivs: Seq[(Int, Long, Long)]): Map[Int, (Array[Long], Array[Long])] =
      ivs.groupBy(_._1).map { case (c, xs) =>
        val s = xs.sortBy(_._2)
        c -> (s.map(_._2).toArray, s.map(_._3).scanLeft(Long.MinValue)(math.max).tail.toArray)
      }
    val blocked = sortedBy(tx.toSeq.map(t => (t.contig, t.start - Distance - 2, t.end + Distance + 2)) ++
      (regs ++ mots).map(f => (f.contig, f.start - 2, f.end + 2)))
    def isClear(c: Int, p: Long): Boolean = blocked.get(c).forall { case (s, maxE) =>
      val j = Sorted.upper(s, p + 1) - 1
      j < 0 || maxE(j) < p
    }

    val probes = Probe.variants(VariantCount + 1L)
    val used = mutable.HashSet.empty[(Int, Long)]
    probes.foreach(v => used += ((v.contig, v.pos)))
    val variants = new Array[Variant](VariantCount + probes.length)
    probes.zipWithIndex.foreach { case (v, j) => variants(VariantCount + j) = v }
    var i = 0
    while (i < VariantCount) {
      val u = r.nextInt(10)
      val (c, p) =
        if (u < 8) {
          val t = tx(r.nextInt(tx.length))
          (t.contig, t.start - 4000 + r.nextLong(t.end - t.start + 8000))
        } else {
          val c = Genome.pick(r)
          (c, 1000L + r.nextLong(Genome.lengths(c) - 2000))
        }
      val intergenic = u == 8
      if (!(0 to 6).exists(d => used.contains((c, p - 3 + d))) &&
          (!intergenic || isClear(c, p))) {
        used += ((c, p))
        // indels are never anchored on a transcript's last base: that
        // shape is the known fault the fixed probes provoke
        val kind = if (txEnds.contains((c, p))) 0 else r.nextInt(10)
        val ref0 = base()
        var alt0 = base(); while (alt0 == ref0) alt0 = base()
        val (ref, alt) =
          if (kind < 8) (ref0.toString, alt0.toString)
          else if (kind == 8) (s"$ref0$alt0", ref0.toString)
          else (ref0.toString, s"$ref0$alt0")
        variants(i) = Variant(i + 1L, c, p, ref, alt, None, intergenic)
        i += 1
      }
    }

    // cache: planted exact matches, decoys, background
    val cache = ArrayBuffer.empty[CacheRow]
    for (j <- variants.indices) {
      val v = variants(j)
      val (vr, va) = vepAlleles(v)
      r.nextInt(10) match {
        case x if x < 4 =>
          val name = s"rs${v.id}"
          cache += CacheRow(bare(v.contig), vepStart(v), vepEnd(v), name, s"$vr/$va")
          variants(j) = v.copy(planted = Some(name))
        case 4 => // decoy: shifted by 3
          cache += CacheRow(bare(v.contig), vepStart(v) + 3, vepEnd(v) + 3, s"rsd${v.id}", s"$vr/$va")
        case 5 => // decoy: alleles swapped
          cache += CacheRow(bare(v.contig), vepStart(v), vepEnd(v), s"rsd${v.id}", s"$va/$vr")
        case _ =>
      }
    }
    var b = 0
    while (b < Background) {
      val c = Genome.pick(r)
      val p = 1000L + r.nextLong(Genome.lengths(c) - 2000)
      if (!(0 to 12).exists(d => used.contains((c, p - 6 + d)))) {
        val ref0 = base(); var alt0 = base(); while (alt0 == ref0) alt0 = base()
        cache += CacheRow(bare(c), p, p, s"rsb$b", s"$ref0/$alt0")
        b += 1
      }
    }
    new Data(tx.toSeq, regs, mots, variants, cache.toArray)
  }

  /** Transcripts whose span is within 5 kb of the variant's VCF span. */
  def transcriptsWithin(d: Data): Variant => Int = {
    val byContig = d.transcripts.groupBy(_.contig)
    v => {
      val ve = v.pos + v.ref.length - 1
      byContig.getOrElse(v.contig, Nil).count(t => t.start - Distance <= ve && t.end + Distance >= v.pos)
    }
  }

  type Record = (String, Long, String, String, String, String)

  /** Wrong copies of the written VCF, one fault each: a shifted record, a
    * planted rs id removed, a foreign rs id added, an intergenic entry
    * renamed, a field dropped from one entry, one transcript entry
    * dropped. */
  def perturbations(d: Data, written: Array[Record], header: Seq[String]): Seq[(String, Array[Record])] = {
    val format = csqFormat(header)
    val byId = d.variants.map(v => v.id.toString -> v).toMap
    def edit(name: String, pick: Record => Boolean)(f: Array[Array[String]] => Array[Array[String]])
        : (String, Array[Record]) = {
      val i = written.indexWhere(w => csqOf(w._6).nonEmpty && !byId(w._3).probe && pick(w))
      val out = written.clone()
      if (i >= 0) {
        val entries = csqOf(out(i)._6).split(",", -1).map(_.split("\\|", -1))
        out(i) = out(i).copy(_6 = "CSQ=" + f(entries).map(_.mkString("|")).mkString(","))
      }
      (name, out)
    }
    def setField(field: String, value: String => String)(es: Array[Array[String]]) = {
      val k = format.indexOf(field)
      es.map(e => e.updated(k, value(e(k))))
    }
    val fType = format.indexOf("Feature_type")
    val shifted = written.clone()
    shifted(0) = shifted(0).copy(_2 = shifted(0)._2 + 1)
    Seq(
      ("record shifted", shifted),
      edit("planted rs id removed", w => byId(w._3).planted.nonEmpty)(
        setField("Existing_variation", _ => "")),
      edit("foreign rs id added", w => byId(w._3).planted.isEmpty)(
        setField("Existing_variation", _ => "rs1")),
      edit("intergenic entry renamed", w => byId(w._3).intergenic)(
        setField("Consequence", _ => "upstream_gene_variant")),
      edit("entry field dropped", _ => true)(es => es.updated(0, es(0).dropRight(1))),
      edit("transcript entry dropped", w => csqOf(w._6).contains("|Transcript|"))(es =>
        es.patch(es.indexWhere(e => e(fType) == "Transcript"), Nil, 1)))
  }

  /** Compare the written VCF with the generated inputs:
    *  - it re-reads with exactly the input records, so every variant
    *    appears in one output row;
    *  - every CSQ entry has the number of fields the header announces;
    *  - planted exact cache matches report their rs id in
    *    Existing_variation, decoys and everything else report none;
    *  - a variant planted more than 5 kb from every transcript carries
    *    exactly one entry, a featureless intergenic_variant;
    *  - elsewhere the Transcript entries are the transcripts within 5 kb
    *    of the variant's VCF span, as the generator computes them.
    * A problem with a probe variant fails the probe, not the operation;
    * a missing transcript entry there is the known fault. */
  def verify(d: Data, written: Array[Record], header: Seq[String]): Check.Outcome = {
    val problems = ArrayBuffer.empty[String]
    val probeProblems = ArrayBuffer.empty[String]
    val known = ArrayBuffer.empty[String]
    def fail(v: Variant, s: String): Unit = {
      val to = if (v != null && v.probe) probeProblems else problems
      if (to.length < 5) to += s
    }
    val want = d.variants.map(v => (Genome.names(v.contig), v.pos, v.id.toString, v.ref, v.alt)).sorted.toSeq
    val got = written.map(w => (w._1, w._2, w._3, w._4, w._5)).sorted.toSeq
    if (got != want) fail(null, s"written VCF: ${got.length} records differ from the ${want.length} input records")
    val format = csqFormat(header)
    if (format.isEmpty) fail(null, "written VCF has no CSQ format header")
    val fType = format.indexOf("Feature_type")
    val fCons = format.indexOf("Consequence")
    val fExisting = format.indexOf("Existing_variation")
    val entriesById = written.map { w =>
      val csq = csqOf(w._6)
      w._3 -> (if (csq.isEmpty) Array.empty[Array[String]] else csq.split(",", -1).map(_.split("\\|", -1)))
    }.toMap
    val within = transcriptsWithin(d)
    d.variants.foreach { v =>
      entriesById.get(v.id.toString).foreach { entries =>
        entries.find(_.length != format.length).foreach(e =>
          fail(v, s"variant ${v.id}: CSQ entry with ${e.length} fields, header announces ${format.length}"))
        def field(e: Array[String], i: Int): String = if (i >= 0 && i < e.length) e(i) else ""
        val names = entries.flatMap(e => field(e, fExisting).split("&")).filter(_.nonEmpty).distinct
        v.planted match {
          case Some(rs) =>
            if (!names.contains(rs)) fail(v, s"variant ${v.id}: planted $rs not reported (${names.mkString(",")})")
          case None =>
            if (names.nonEmpty) fail(v, s"variant ${v.id}: reports ${names.mkString(",")}, expected none")
        }
        val txEntries = entries.count(e => field(e, fType) == "Transcript")
        if (v.intergenic) {
          if (entries.length != 1 || field(entries(0), fCons) != "intergenic_variant" ||
              field(entries(0), fType).nonEmpty)
            fail(v, s"variant ${v.id}: planted intergenic, got ${entries.length} entries " +
              entries.map(e => field(e, fCons)).mkString("[", ",", "]"))
        } else if (txEntries != within(v)) {
          val msg = s"variant ${v.id} (${Genome.names(v.contig)}:${v.pos} ${v.ref}>${v.alt}): " +
            s"$txEntries transcript entries, ${within(v)} transcripts within 5 kb"
          if (v.probe) known += msg else fail(v, msg)
        }
      }
    }
    def outcome(what: String, ps: Seq[String]) =
      if (ps.isEmpty) None else Some(s"$what: " + ps.mkString("; "))
    Map(
      "annotate" -> outcome("annotate", problems.toSeq),
      Probe.name -> outcome(Probe.name, probeProblems.toSeq).orElse(
        if (known.isEmpty) None
        else Some(Check.KnownFault + "annotate drops the transcript entry of an indel anchored on " +
          "the transcript's last base: " + known.mkString("; "))))
  }
}
