package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: `build` makes the library call (which may run
  * driver-side jobs, e.g. an index build), `sink` forces the result to
  * completion. */
final case class Op(
    name: String,
    build: () => DataFrame,
    sink: DataFrame => Unit = Op.noop)

object Op {
  val noop: DataFrame => Unit = df => df.write.format("noop").mode("overwrite").save()
}

trait Workload {
  /** Write the inputs under the work directory. Deterministic in the
    * seed; callable more than once (each call rewrites the same files). */
  def generate(): Unit
  def ops: Seq[Op]
  /** Fault probes: fixed, seed-independent inputs planted among an
    * operation's inputs that provoke a known fault of the program. Each
    * is counted as an operation of its own, checked on its slice of the
    * operation's output, so the fault fails the probe and nothing else. */
  def probes: Seq[String] = Nil
  /** Timed passes a run makes at least, however short `--seconds` is. */
  def minPasses: Int = 1
  /** Untimed passes before the timed ones; the first captures outputs. */
  def warmPasses: Int = 1
  /** Force `out`, the output of `op`, to completion in the form its check
    * reads (untimed), and return the check: a comparison with the
    * reference computation, run later, giving for the operation and for
    * each of its probes `Some(reason)` on a mismatch. `perturb` shifts
    * one output value by one first, to show that the check catches it. */
  def capture(op: Op, out: DataFrame, perturb: Boolean): () => Check.Outcome
  /** Direct single-thread calls into the layers this workload exercises
    * (traced runs only): name -> value. */
  def layerMetrics(rec: Recorder): Map[String, Double]
}

object Workload {
  val names: Seq[String] = Seq("ranges", "depth", "annotate")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload =
    name match {
      case "ranges" => new RangesWorkload(spark, seed, dir)
      case "depth" => new DepthWorkload(spark, seed, dir)
      case "annotate" => new AnnotateWorkload(spark, seed, dir)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Time `body` `reps` times after one untimed call; median ns per `units`. */
  def kernelNs(units: Long, reps: Int = 5)(body: => Unit): Double = {
    body
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / units
    })
  }
}
