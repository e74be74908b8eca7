package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.index.{IndexBuilder, IndexStore}
import graft.model.Turn

/** serve: a positional index built and loaded in set-up, then a closed loop
  * of one client per core (each in its own FAIR pool) calling
  * `search(...).collect()` over a seeded query mix for the run's seconds,
  * then one client sending [[Serve.BatchCalls]] `searchBatch` calls over
  * consecutive blocks of the pool's msm-1 queries. */
final class Serve(spark: SparkSession, o: Opts, out: Outcome) extends Workload {
  import Serve._
  val name = "serve"
  val opName = "search round trip under closed-loop load"
  val unitName = "queries"
  val batchName = s"one searchBatch call of $BatchSize msm-1 queries"

  private val cfg = IndexBuilder.Config(numShards = 4 * o.cores, docIdPartitions = o.cores,
    storePositions = true)
  private var turns: org.apache.spark.sql.Dataset[Turn] = _
  private var sample: Seq[String] = Nil
  private var pool: Seq[Q] = Nil
  private var idx: IndexStore.Index = _
  private var lastBuild: IndexStore.BuildResult = _
  private val digests = new Queries.Digests
  private val batchHits = scala.collection.mutable.ArrayBuffer.empty[Map[String, Queries.Hits]]

  def sampleTexts: Seq[String] = sample

  def prepare(): Unit = {
    turns = Gen.turns(spark, o.seed, 0, Convs, o.cores)
    sample = turns.sample(0.03, o.seed).limit(SampleTurns).collect().map(_.text).toSeq
    pool = Queries.pool(o.seed, PoolSize, sample, positional = true)
  }

  def setup(tr: Tracer, rep: Int): Unit = {
    val dir = s"${o.work}/index-$rep"
    lastBuild = tr.request("build")(IndexStore.build(spark, turns, dir, s"serve-${o.seed}", cfg))
    idx = tr.request("load")(IndexStore.load(spark, dir))
    if (rep > 1) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"${o.work}/index-${rep - 1}"))
  }

  def warm(): Unit = Queries.Classes.foreach { c =>
    pool.find(_.cls == c).foreach(q => Queries.search(spark, idx, q, cfg, Tracer.Off))
  }

  def window(tr: Tracer, seconds: Double): Window = {
    val ops = new ConcurrentLinkedQueue[Op]()
    val t0 = System.nanoTime()
    val loopEnd = t0 + (seconds * 1e9).toLong
    val exec = Executors.newFixedThreadPool(o.cores)
    // the clients take the pool's queries in order, so the loop runs a
    // prefix of the pool and with it every class of the mix
    val next = new AtomicInteger(0)
    (0 until o.cores).foreach { c =>
      exec.submit(new Runnable {
        def run(): Unit = {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client-$c")
          while (System.nanoTime() < loopEnd) {
            val q = pool(next.getAndIncrement() % pool.size)
            val t = tr.every(q.cls)
            try {
              val (h, sec) = Stats.time(Queries.search(spark, idx, q, cfg, t))
              ops.add(Op(q.cls, sec, t.enabled))
              out.synchronized(out.attempted += 1)
              digests.record(0, q, h, out)
            } catch { case t: Throwable => out.fail(s"search [${q.text}]", t) }
          }
        }
      })
    }
    exec.shutdown()
    require(exec.awaitTermination(10, TimeUnit.MINUTES), "serve clients did not finish")
    val loopSec = (System.nanoTime() - t0) / 1e9

    // batch phase: one client, consecutive blocks of the pool's msm-1 queries
    val batchable = pool.filter(_.msm == 1)
    val batchLats = Seq.newBuilder[Double]
    var batchQueries = 0
    val t1 = System.nanoTime()
    (0 until BatchCalls).foreach { b =>
      val qs = (0 until BatchSize).map(j => batchable((b * BatchSize + j) % batchable.size)).distinct
      try {
        val (h, sec) = Stats.time(Queries.batch(spark, idx, qs, cfg, tr))
        batchLats += sec
        batchQueries += qs.size
        out.synchronized(out.attempted += 1)
        batchHits += h
      } catch { case t: Throwable => out.fail("searchBatch", t) }
    }
    val batchSec = (System.nanoTime() - t1) / 1e9

    val all = ops.asScala.toSeq
    val secs = all.map(_.sec)
    Window(all, all.size / loopSec, Stats.median(batchLats.result()), Seq(
      "query_p50_s" -> Metric(Stats.median(secs), "s"),
      "query_p95_s" -> Metric(Stats.quantile(secs, 0.95), "s"),
      "query_samples" -> Metric(all.size, "count"),
      "corpus_turns" -> Metric(lastBuild.manifest.docCount, "count"),
      "queries_per_s" -> Metric(all.size / loopSec, "1/s"),
      "batch_queries_per_s" -> Metric(batchQueries / batchSec, "1/s")))
  }

  def check(): Unit = {
    val got = digests.all(0)
    // batch qids whose query the loop answered
    val byText = got.collect { case (q, h) if q.msm == 1 => q.text -> h }
    batchHits.foreach(b => Queries.checkBatch(b.filter(kv => byText.contains(kv._1)), byText, out))
    val rel = IndexBuilder.relations(spark, turns, s"${o.work}/rel-docs", cfg.copy(storePositions = false))
    try {
      val exact = got.filter { case (q, _) => q.cls == "plain" }.toSeq.sortBy(_._1.text).take(ExhaustivePlain) ++
        got.filter { case (q, _) => q.cls == "and" }.toSeq.sortBy(_._1.text).take(ExhaustiveAnd)
      Queries.checkExhaustive(spark, rel, cfg, exact.toMap, out)
    } finally rel.unpersistAll()
  }

  override def resultDigests: Map[String, String] =
    digests.all(0).map { case (q, h) => s"${q.msm}|${q.text}" -> h.hashCode.toHexString }

  def foreground(scope: String): Boolean = Queries.Classes.contains(scope)

  def layers(tr: Tracer, w: Window): Seq[(String, Metric)] =
    Layers.build(lastBuild) ++ Layers.queries(tr, w) :+ ("store.load_s" -> Metric(tr.median("load"), "s"))
}

object Serve {
  val Convs = 600L
  val SampleTurns = 400
  val PoolSize = 64
  val BatchSize = 16
  val BatchCalls = 2
  val ExhaustivePlain = 3
  val ExhaustiveAnd = 1
}
