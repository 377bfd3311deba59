package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: one workload per invocation, one client in a closed
  * loop (each operation starts when the previous one has finished).
  *
  *   perfbench.Main --workload ranges|depth|annotate --seed N --seconds S
  *                  --trace 0|1 --work DIR [--perturb]
  *
  * Order of a run: session start, input generation, untimed warm-up
  * passes (the first also captures each output for its check), timed
  * passes until S seconds have elapsed and the workload's minimum is
  * reached (whole passes only), then the comparisons with the reference
  * computations and, when traced, the direct layer calls. The last
  * stdout line is the result object. Every pass attempts each operation
  * and each fault probe; an operation that throws, a check that never
  * ran and any failed check except a probe's known fault make the result
  * incorrect, and only passes in which every operation completed count
  * towards `pass_s`. `--perturb` instead runs every
  * check on an output with one value shifted by one and exits non-zero
  * unless each check rejects it (a self-test of the checks). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, perturb: Boolean)

  def parse(a: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var perturb = false
    var i = 0
    while (i < a.length) {
      a(i) match {
        case "--perturb" => perturb = true; i += 1
        case k if k.startsWith("--") && i + 1 < a.length => m(k.drop(2)) = a(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
    }
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$o'")
    }
    val wl = need("workload")
    require(Workload.names.contains(wl), s"--workload must be one of ${Workload.names.mkString(", ")}")
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be at least 1")
    Args(wl, need("seed").toLong, secs, trace, need("work"), perturb)
  }

  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    // the session settings graft.Bench uses, plus the interval-join
    // extension and local directories kept inside the work directory
    SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
  }

  private def gcMs: Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** One execution of one operation. */
  final case class Sample(wallS: Double, planS: Double, stats: OpStats, idleS: Double)

  def runOp(spark: SparkSession, rec: Recorder, op: Op, tag: String,
      sink: DataFrame => Unit): Sample = {
    val key = s"${op.name}#$tag"
    var planNs = 0L
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    rec.span(op.name, "op") {
      rec.asOp(key) {
        val df = rec.span(s"${op.name} call", "call")(op.build())
        if (rec.traced) {
          // the executed plan built ahead of the action, so planning
          // time is measured on its own (the action plans it again)
          val p0 = System.nanoTime()
          rec.span(s"${op.name} plan", "plan")(df.queryExecution.executedPlan)
          planNs = System.nanoTime() - p0
        }
        rec.span(s"${op.name} action", "action")(sink(df))
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val t1ms = System.currentTimeMillis()
    rec.drain()
    val st = rec.opStats(key)
    val busy = Recorder.covered(st.taskIntervals, t0ms, t1ms)
    Sample(wall, planNs / 1e9, st, math.max(0L, t1ms - t0ms - busy) / 1e3)
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(args.work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val runId = s"${args.workload}-${args.seed}-${java.util.UUID.randomUUID().toString.take(8)}"
    val rec = new Recorder(spark, args.trace, runId)
    val wl = Workload(args.workload, spark, args.seed, s"${args.work}/inputs")
    val code =
      try if (args.perturb) selfTest(wl) else measure(spark, rec, wl, args, jvmStartMs, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  /** Every operation's check must fail on its perturbed output. */
  private def selfTest(wl: Workload): Int = {
    wl.generate()
    val caught = wl.ops.map { op =>
      val r = wl.capture(op, op.build(), perturb = true)().getOrElse(op.name, None)
      System.err.println(s"perturbed ${op.name}: ${r.getOrElse("NOT CAUGHT")}")
      r.isDefined
    }
    println(s"""{"perturbed": ${wl.ops.length}, "caught": ${caught.count(identity)}}""")
    if (caught.forall(identity)) 0 else 1
  }

  private def measure(spark: SparkSession, rec: Recorder, wl: Workload, args: Args,
      jvmStartMs: Long, sessionS: Double): Int = {
    val ops = wl.ops
    // the operations a pass attempts: the timed ones and the fault probes
    val counted = ops.map(_.name) ++ wl.probes
    // an operation that throws makes the run incorrect: its pass is
    // incomplete, and the figures of the rest of the run are suspect
    var correct = true
    def attempt(op: Op, tag: String, sink: DataFrame => Unit): Option[Sample] =
      try Some(runOp(spark, rec, op, tag, sink)) catch {
        case e: Exception =>
          System.err.println(s"perfbench: ${op.name} failed: $e")
          correct = false
          None
      }

    // the warm-up pass forces each output into the form its check reads;
    // the comparison with the reference runs after the timed passes
    val verify = mutable.LinkedHashMap.empty[String, () => Check.Outcome]
    val setupT0 = System.nanoTime()
    rec.span("setup", "setup") {
      rec.span("generate", "setup")(wl.generate())
      val genS = (System.nanoTime() - setupT0) / 1e9
      rec.span("warm-up", "setup") {
        ops.foreach { op =>
          attempt(op, "warm", df => verify(op.name) = wl.capture(op, df, perturb = false))
        }
        for (i <- 2 to wl.warmPasses; op <- ops) attempt(op, s"warm$i", op.sink)
      }
      System.err.println(f"perfbench: set-up: session $sessionS%.2f s, generate $genS%.2f s, " +
        f"warm-up ${(System.nanoTime() - setupT0) / 1e9 - genS}%.2f s")
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    rec.takePeakTaskMem()

    // ---- timed passes ----
    val samples = mutable.LinkedHashMap(ops.map(_.name -> mutable.ArrayBuffer.empty[Sample]): _*)
    // walls of the passes in which every operation completed
    val passS = mutable.ArrayBuffer.empty[Double]
    val thrown = mutable.ArrayBuffer.empty[Set[String]]
    var peakMem = 0L
    val gc0 = gcMs; val cg0 = rec.codegenCompiles; val fb0 = rec.codegenFallbacks
    val spanT0 = rec.nowUs
    val timedT0 = System.nanoTime()
    var rounds = 0
    while (rounds < wl.minPasses || (System.nanoTime() - timedT0) / 1e9 < args.seconds) {
      var passWall = 0.0
      val failedNow = mutable.Set.empty[String]
      rec.span(s"pass $rounds", "pass") {
        ops.foreach { op =>
          // off the clock, so no operation pays for collecting another's garbage
          System.gc()
          attempt(op, rounds.toString, op.sink) match {
            case Some(s) =>
              samples(op.name) += s
              passWall += s.wallS
            case None => failedNow += op.name
          }
        }
      }
      if (failedNow.isEmpty) passS += passWall
      thrown += failedNow.toSet
      peakMem = math.max(peakMem, rec.takePeakTaskMem())
      rounds += 1
    }
    val spanT1 = rec.nowUs
    val gcS = (gcMs - gc0) / 1e3 / rounds
    val compiles = (rec.codegenCompiles - cg0).toDouble / rounds
    val fallbacks = (rec.codegenFallbacks - fb0).toDouble / rounds

    System.err.println(f"perfbench: $rounds passes: ${passS.mkString(" ")} s; per operation: " +
      samples.map { case (n, ss) => s"$n ${ss.map(s => f"${s.wallS}%.3f").mkString("/")}" }.mkString(", "))

    // ---- output checks (untimed) ----
    // a check reads the warm-up output; the outputs of the timed passes
    // are the same computation on the same inputs, so a failed check
    // fails its operation (or probe) in every pass
    val checkFailed = mutable.LinkedHashSet.empty[String]
    val checkT0 = System.nanoTime()
    rec.span("checks", "check") {
      val outcome = ops.flatMap { op =>
        verify.get(op.name).toSeq.flatMap { check =>
          try check().toSeq catch {
            case e: Exception => Seq(op.name -> Some(s"${op.name}: check could not run: $e"))
          }
        }
      }.toMap
      counted.foreach { n =>
        outcome.getOrElse(n, Some(s"$n: no check ran (its warm-up execution failed)")).foreach { why =>
          System.err.println(s"perfbench: check failed: $why")
          checkFailed += n
          // only a fault probe may fail, and only with the known fault it
          // provokes; any other failure makes the run incorrect
          if (!(wl.probes.contains(n) && why.startsWith(Check.KnownFault))) correct = false
        }
      }
    }

    System.err.println(f"perfbench: checks ${(System.nanoTime() - checkT0) / 1e9}%.2f s")
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (passS.isEmpty) {
      System.err.println("perfbench: no timed pass completed")
      return 1
    }
    if (!args.trace) {
      metrics("pass_s") = (Workload.median(passS.toSeq), "s")
      metrics("setup_s") = (setupS, "s")
      metrics("peak_task_mem_mb") = (peakMem / 1048576.0, "MB")
    } else {
      val layer = rec.span("layer calls", "kernel")(wl.layerMetrics(rec))
      Layers.all.foreach { case (n, u) => metrics(n) = (layer.getOrElse(n, 0.0), u) }
      for (op <- Layers.ops) {
        val ss = samples.get(op).map(_.toSeq).getOrElse(Nil)
        def med(f: Sample => Double): Double = if (ss.isEmpty) 0.0 else Workload.median(ss.map(f))
        metrics(s"$op.wall_s") = (med(_.wallS), "s")
        metrics(s"$op.plan_s") = (med(_.planS), "s")
        metrics(s"$op.task_s") = (med(_.stats.taskMs / 1e3), "s")
        metrics(s"$op.idle_s") = (med(_.idleS), "s")
        metrics(s"$op.stages") = (med(_.stats.stages.toDouble), "count")
        metrics(s"$op.tasks") = (med(_.stats.tasks.toDouble), "count")
        metrics(s"$op.shuffle_mb") = (med(_.stats.shuffleBytes / 1048576.0), "MB")
        metrics(s"$op.peak_mem_mb") = (med(_.stats.peakMem / 1048576.0), "MB")
      }
      metrics("codegen.compiles") = (compiles, "count")
      metrics("codegen.fallbacks") = (fallbacks, "count")
      metrics("jvm.gc_s") = (gcS, "s")
      val timedSpans = rec.spans.filter(s => s.start >= spanT0 && s.end <= spanT1)
      val self = Recorder.selfTimeByLayer(timedSpans)
      Layers.selfLayers.foreach { l =>
        metrics(s"self.${l}_s") = (self.getOrElse(l, 0L) / 1e6 / rounds, "s")
      }
      val out = java.nio.file.Paths.get(args.work, s"spans-${rec.runId}.jsonl")
      rec.writeSpans(out)
      System.err.println(s"perfbench: ${rec.spans.length} spans written to $out")
    }

    val attempted = rounds.toLong * counted.length
    val failed = thrown.map(t => (checkFailed ++ t).size.toLong).sum
    val body = metrics.map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Names and units of the per-layer metrics; every traced run prints all
  * of them, with 0 for a layer the workload does not enter. */
object Layers {
  val ops: Seq[String] = Seq("overlap", "count_overlaps", "coverage", "nearest", "subtract",
    "depth", "annotate")
  val selfLayers: Seq[String] = Seq("op", "call", "plan", "action", "job", "stage")
  val all: Seq[(String, String)] = Seq(
    "sources.bam_scan_s" -> "s", "sources.bam_mb" -> "MB", "sources.bgzf_inflate_mb_s" -> "MB/s",
    "sources.vcf_scan_s" -> "s", "sources.vcf_write_s" -> "s",
    "index.build_ns" -> "ns", "index.query_ns" -> "ns", "index.hits_per_query" -> "count",
    "index.count_ns" -> "ns", "index.coverage_ns" -> "ns", "index.nearest_ns" -> "ns",
    "pileup.cigar_ns" -> "ns", "pileup.blocks" -> "count", "pileup.split_blocks" -> "count",
    "vep.normalize_ns" -> "ns", "vep.allele_match_ns" -> "ns", "vep.lookup_s" -> "s",
    "vep.entries" -> "count")
}
