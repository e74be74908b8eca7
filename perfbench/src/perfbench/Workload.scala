package perfbench

import org.apache.spark.sql.SparkSession

/** One interactive operation: its class, latency and whether it was
  * traced. */
final case class Op(cls: String, sec: Double, traced: Boolean)

/** What one measured window did: its interactive operations, work units
  * completed per second, the median latency of its batch operation, and
  * named report metrics. */
final case class Window(ops: Seq[Op], unitsPerSec: Double, batchSec: Double,
    report: Seq[(String, Metric)]) {
  def latencies: Seq[Double] = ops.map(_.sec)

  /** Median latency of traced over untraced operations of one class
    * (alternate operations of the class, see [[Tracer.every]]), minus one;
    * the median of that over the classes run both ways. */
  def tracingOverhead: Double = {
    val ratios = ops.groupBy(_.cls).values.toSeq.flatMap { xs =>
      val (on, off) = xs.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.median(on.map(_.sec)) / Stats.median(off.map(_.sec)))
    }
    if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1.0
  }

  /** Median latency per query class (0 for a class that did not run). */
  def classMedians: Seq[(String, Metric)] = Queries.Classes.map { c =>
    val xs = ops.filter(_.cls == c).map(_.sec)
    s"query.$c.p50_s" -> Metric(if (xs.isEmpty) 0.0 else Stats.median(xs), "s")
  }
}

/** A workload: untimed input generation, a set-up that the harness repeats
  * and times, an untimed warm-up, measured windows, untimed correctness
  * checks, and (traced runs) its per-layer metrics. */
trait Workload {
  def name: String
  /** What `op_p50_s` and `batch_s` time and what `units_per_s` counts. */
  def opName: String
  def unitName: String
  def batchName: String
  def prepare(): Unit
  def setup(tr: Tracer, rep: Int): Unit
  def warm(): Unit
  def window(tr: Tracer, seconds: Double): Window
  def check(): Unit
  /** Named report metrics known only after [[check]]. */
  def checkReport: Seq[(String, Metric)] = Nil
  /** Result digests keyed by a seed-determined operation; they must
    * repeat across runs of one seed. */
  def resultDigests: Map[String, String] = Map.empty
  /** Sample texts of the generated inputs for the Spark-free layers. */
  def sampleTexts: Seq[String]
  /** Layer metrics from a traced window (zero for layers not exercised). */
  def layers(tr: Tracer, w: Window): Seq[(String, Metric)]
  /** Root-span scopes of the measured operations. */
  def foreground(scope: String): Boolean
}

object Workload {
  def apply(name: String, spark: SparkSession, o: Opts, out: Outcome): Workload = name match {
    case "serve" => new Serve(spark, o, out)
    case "ingest" => new Ingest(spark, o, out)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
