package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.model.{Doc, PostingBlock, TermStat, Turn}

/** Runs one workload: untimed input generation, [[Main.SetupReps]] timed
  * set-ups (median = `setup_s`), an untimed warm-up, one window of
  * `--seconds`, then untimed correctness checks. Untraced, the window gives
  * the end-to-end metrics. With `--trace 1` the set-up runs once and every
  * call is traced except every other interactive operation of each class,
  * whose latency against the traced ones gives the tracing overhead. Writes the result
  * object to `--out` and the spans of a traced run to `--keep`/traces. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    // resolve the encoders' Scala types on this thread before Spark starts
    // threads of its own: runtime reflection can fail to find a class when
    // the first lookups race
    Seq(Encoders.product[Turn], Encoders.product[Doc], Encoders.product[PostingBlock],
      Encoders.product[TermStat])
    val spark = Session.create(o)
    try run(spark, o) finally spark.stop()
  }

  private def run(spark: SparkSession, o: Opts): Unit = {
    val out = new Outcome
    val w = Workload(o.workload, spark, o, out)
    val tracer = if (o.trace) new Tracer(true, spark.sparkContext) else Tracer.Off

    val t0 = System.nanoTime()
    def phase[A](name: String)(f: => A): A = {
      val a = f
      System.err.println(f"perfbench: ${w.name} $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
      a
    }
    phase("prepare")(w.prepare())
    // a traced run reports no set-up time, so it sets up once
    val reps = if (o.trace) 1 else SetupReps
    val setupSecs = phase("setup")((1 to reps).map(r => Stats.time(w.setup(tracer, r))._2))
    phase("warm")(w.warm())
    val win = phase("window")(w.window(tracer, o.seconds))
    phase("check") {
      try w.check() catch { case t: Throwable => out.fail("correctness check", t) }
      compareDigests(o, w.resultDigests, out)
    }

    val e2e = Seq(
      "setup_s" -> Metric(Stats.median(setupSecs), "s"),
      "op_p50_s" -> Metric(Stats.median(win.latencies), "s"),
      "units_per_s" -> Metric(win.unitsPerSec, "1/s"))
    val report = e2e ++ Seq("batch_s" -> Metric(win.batchSec, "s")) ++ win.report ++ win.classMedians ++ w.checkReport ++ Seq(
      "peak_rss_mb" -> Metric(Stats.peakRssMb(), "MB"),
      "op_samples" -> Metric(win.latencies.size, "count"),
      "error_rate" -> Metric(out.failed.toDouble / math.max(1L, out.attempted), "ratio"))
    println(s"""{"perfbench":${Json.str(w.name)},"op":${Json.str(w.opName)},""" +
      s""""units":${Json.str(w.unitName)},"batch":${Json.str(w.batchName)},"report":${Json.metrics(report)}}""")
    out.notes.foreach(n => System.err.println(s"perfbench: $n"))

    val metrics =
      if (!o.trace) Layers.complete(Layers.endToEnd, e2e)
      else {
        val selfTimes = tracer.selfTimes.toSeq.sortBy(-_._2)
        tracer.write(new File(s"${o.keep}/traces/${w.name}-${o.seed}.jsonl"))
        println(s"""{"perfbench":${Json.str(w.name)},"self_s":""" +
          Json.metrics(selfTimes.map { case (n, v) => n -> Metric(v, "s") }) + "}")
        Layers.complete(Layers.perLayer,
          w.layers(tracer, win) ++ Micro.metrics(w.sampleTexts, tracer) ++
            SparkLayer.metrics(tracer, w.foreground) :+
            ("trace.overhead_ratio" -> Metric(win.tracingOverhead, "ratio")))
      }
    val json = s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":${Json.metrics(metrics)}}"""
    Files.write(new File(o.out).toPath, json.getBytes(UTF_8))
  }

  /** Result digests of one (workload, seed, build) must repeat run after
    * run: compares with the digests an earlier run left, then adds its own. */
  private def compareDigests(o: Opts, got: Map[String, String], out: Outcome): Unit = {
    if (got.isEmpty || o.stamp.isEmpty) return
    val f = new File(s"${o.keep}/digests/${o.workload}-${o.seed}-${o.stamp.take(16)}.tsv")
    val prev: Map[String, String] =
      if (!f.isFile) Map.empty
      else Files.readAllLines(f.toPath, UTF_8).toArray(Array.empty[String]).toSeq
        .map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap
    got.foreach { case (k, v) =>
      prev.get(k).foreach(p => out.check(p == v, s"result digest of [$k] differs from an earlier run"))
    }
    f.getParentFile.mkdirs()
    val merged = (prev ++ got).toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }
    Files.write(f.toPath, merged.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
