package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, keep: String, stamp: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), need("keep"), m.getOrElse("stamp", ""))
  }
}

final case class Metric(value: Double, unit: String)

/** Operations and checks a run attempted and how many failed, with notes
  * on the first failures. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  /** Counts one checked operation; a false `ok` is a wrong result. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (notes.size < 20) notes += s"wrong: $what" }
  }

  def fail(what: String, t: Throwable): Unit = synchronized {
    attempted += 1
    failed += 1
    if (notes.size < 20) notes += s"failed: $what: $t"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Session {
  def create(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // one FAIR pool per client thread: concurrent clients share the
      // executor instead of queueing whole jobs FIFO
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Per-layer Spark counters of traced requests, summarized per scope. */
object SparkLayer {
  private final case class Sums(ops: Int, jobs: Long, stages: Long, tasks: Long,
      input: Long, shRead: Long, shWrite: Long, spill: Long, delayMs: Long, taskMs: Long)

  private def sums(reqs: Seq[String], jobs: Map[String, Seq[JobRec]]): Sums = {
    val js = reqs.flatMap(r => jobs.getOrElse(r, Nil))
    Sums(reqs.size, js.size, js.map(_.stages.size.toLong).sum, js.map(_.tasks).sum,
      js.map(_.inputBytes).sum, js.map(_.shuffleRead).sum, js.map(_.shuffleWrite).sum,
      js.map(_.spill).sum, js.map(_.schedulerDelayMs).sum, js.map(_.taskTimeMs).sum)
  }

  /** Global `spark.*` metrics per operation over `foreground` scopes, and
    * the per-scope breakdown `spark.<scope>.*` for every scope of
    * [[Layers.scopes]] (zero when the workload never runs that scope). */
  def metrics(tr: Tracer, foreground: String => Boolean): Seq[(String, Metric)] = {
    val jobs = tr.jobsByRequest()
    val roots = tr.all.filter(_.parent == 0)
    def perOp(s: Sums, v: Long): Double = if (s.ops == 0) 0.0 else v.toDouble / s.ops
    val g = sums(roots.filter(r => foreground(r.scope)).map(_.req), jobs)
    val global = Seq(
      "spark.jobs_per_op" -> Metric(perOp(g, g.jobs), "count"),
      "spark.stages_per_op" -> Metric(perOp(g, g.stages), "count"),
      "spark.tasks_per_op" -> Metric(perOp(g, g.tasks), "count"),
      "spark.input_bytes_per_op" -> Metric(perOp(g, g.input), "B"),
      "spark.shuffle_read_bytes_per_op" -> Metric(perOp(g, g.shRead), "B"),
      "spark.shuffle_write_bytes_per_op" -> Metric(perOp(g, g.shWrite), "B"),
      "spark.spill_bytes_per_op" -> Metric(perOp(g, g.spill), "B"),
      "spark.scheduler_delay_s" -> Metric(perOp(g, g.delayMs) / 1000.0, "s"),
      "spark.task_time_s_per_op" -> Metric(perOp(g, g.taskMs) / 1000.0, "s"))
    global ++ Layers.scopes.flatMap { case (scope, fields) =>
      val s = sums(roots.filter(_.scope == scope).map(_.req), jobs)
      fields.map {
        case "jobs_per_op" => s"spark.$scope.jobs_per_op" -> Metric(perOp(s, s.jobs), "count")
        case "tasks_per_op" => s"spark.$scope.tasks_per_op" -> Metric(perOp(s, s.tasks), "count")
        case "shuffle_bytes_per_op" =>
          s"spark.$scope.shuffle_bytes_per_op" -> Metric(perOp(s, s.shRead + s.shWrite), "B")
        case "spill_bytes_per_op" => s"spark.$scope.spill_bytes_per_op" -> Metric(perOp(s, s.spill), "B")
        case "scheduler_delay_s" =>
          s"spark.$scope.scheduler_delay_s" -> Metric(perOp(s, s.delayMs) / 1000.0, "s")
        case "task_time_s_per_op" =>
          s"spark.$scope.task_time_s_per_op" -> Metric(perOp(s, s.taskMs) / 1000.0, "s")
      }
    }
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def metrics(ms: Iterable[(String, Metric)]): String =
    ms.map { case (k, m) => s"${str(k)}:{\"value\":${num(m.value)},\"unit\":${str(m.unit)}}" }
      .mkString("{", ",", "}")
}
