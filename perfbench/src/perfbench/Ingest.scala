package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexStore}
import graft.model.Turn

/** ingest: a non-positional base build (the set-up), then single-writer
  * cycles: `appendSnapshot` of new conversations, reload, a query burst, a
  * near-duplicate and embedding sweep of the appended docs ([[Dedup]]),
  * `deleteDocs` of the docs it drops and of a seeded 1% of all live docs,
  * reload, a second burst, `compact`, reload. */
final class Ingest(spark: SparkSession, o: Opts, out: Outcome) extends Workload {
  import Ingest._
  import spark.implicits._
  val name = "ingest"
  val opName = "search on a freshly committed and reloaded index"
  val unitName = "turns appended per second of commits and reloads"
  val batchName = "near-duplicate and embedding sweep of the appended docs"

  private val cfg = IndexBuilder.Config(numShards = 4 * o.cores, docIdPartitions = o.cores)
  private val dedup = new Dedup(o.seed, out)
  private var base: Dataset[Turn] = _
  private var sample: Seq[String] = Nil
  private var pool: Seq[Q] = Nil
  private var dir: String = _
  private var idx: IndexStore.Index = _
  private var lastBuild: IndexStore.BuildResult = _
  // the generator's side of the corpus: the (conv_id, turn_idx) keys live
  private val live = mutable.Set.empty[(String, Int)]
  private var cycle = 0
  private var gen = 0
  private var nextQuery = 0
  private val digests = new Queries.Digests
  private val times = mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
  private var maxTombstones = 0L
  // (on-disk bytes, live keys) right after the latest compaction
  private var compacted: (Double, Seq[(String, Int)]) = (0.0, Nil)
  private var bytesPerTextByte = 0.0

  def sampleTexts: Seq[String] = sample

  private def convs(first: Long, n: Long): Dataset[Turn] = Gen.turns(spark, o.seed, first, n, o.cores)

  private def keys(ds: Dataset[Turn]): Seq[(String, Int)] =
    ds.select("conv_id", "turn_idx").as[(String, Int)].collect().toSeq

  def prepare(): Unit = {
    base = convs(0, BaseConvs)
    sample = base.sample(0.03, o.seed).limit(400).collect().map(_.text).toSeq
    pool = Queries.pool(o.seed, PoolSize, sample, positional = false)
  }

  def setup(tr: Tracer, rep: Int): Unit = {
    if (dir != null) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir = s"${o.work}/index-$rep"
    lastBuild = tr.request("build")(IndexStore.build(spark, base, dir, "base", cfg))
    idx = tr.request("load")(IndexStore.load(spark, dir))
  }

  def warm(): Unit = {
    live ++= keys(base)
    out.check(idx.manifest.docCount == live.size, s"base docCount ${idx.manifest.docCount} != ${live.size}")
    Queries.Classes.foreach(c => pool.find(_.cls == c).foreach(q => Queries.search(spark, idx, q, cfg, Tracer.Off)))
  }

  /** Times one commit and the reload after it; the reloaded handle must
    * count exactly the live docs the generator expects. */
  private def commit(kind: String, tr: Tracer)(f: => IndexStore.BuildResult): Unit = {
    out.attempted += 1
    times(kind) :+= Stats.time(tr.request(kind)(f))._2
    val (i, lsec) = Stats.time(tr.request("load")(IndexStore.load(spark, dir)))
    times("load") :+= lsec
    idx = i
    gen += 1
    maxTombstones = math.max(maxTombstones, idx.tombstoneSet.size)
    out.check(idx.manifest.docCount == live.size,
      s"$kind: docCount ${idx.manifest.docCount} != expected ${live.size}")
  }

  /** The next [[BurstSize]] queries of the pool. */
  private def burst(tr: Tracer, ops: mutable.ArrayBuffer[Op]): Unit =
    (0 until BurstSize).foreach { _ =>
      val q = pool(nextQuery % pool.size)
      val t = tr.every(q.cls)
      nextQuery += 1
      try {
        val (h, sec) = Stats.time(Queries.search(spark, idx, q, cfg, t))
        ops += Op(q.cls, sec, t.enabled)
        out.attempted += 1
        digests.record(gen, q, h, out)
      } catch { case t: Throwable => out.fail(s"search [${q.text}]", t) }
    }

  /** One cycle; returns (turns appended, docs deleted, docs swept). */
  private def oneCycle(tr: Tracer, ops: mutable.ArrayBuffer[Op]): (Long, Long, Long) = {
    val c = cycle
    val first = BaseConvs + c * AppendConvs
    val batch = convs(first, AppendConvs)
    val added = keys(batch)
    live ++= added
    commit("append", tr)(IndexStore.appendSnapshot(spark, batch, dir, s"append-$c", cfg))
    burst(tr, ops)

    // the appended docs as the index serves them; identical texts among
    // them are the exact duplicates the sweep must resolve
    val view = idx.docs.toDF()
      .filter(col("conv_id") >= f"conv-$first%09d" && col("conv_id") < f"conv-${first + AppendConvs}%09d")
    val rows = view.select("docId", "conv_id", "turn_idx", "text").as[(Long, String, Int, String)].collect()
    val dups = rows.groupBy(_._4).values.filter(_.length > 1).map(_.map(_._1).toSeq).toSeq
    out.attempted += Dedup.Steps.size
    val dropped = dedup.sweep(view.select(col("docId").as("doc_id"), col("text")), rows.map(_._1).min, dups, tr)
    val keyOf = rows.map(r => r._1 -> (r._2, r._3)).toMap
    // with the sweep's drops goes a seeded share of all live docs, as
    // users delete turns anywhere in the corpus
    val dropSet = dropped.toSet
    val anywhere = idx.docs.toDF().filter(Gen.u(o.seed, 100 + c, col("docId")) < RandomDeleteShare)
      .select("docId", "conv_id", "turn_idx").as[(Long, String, Int)].collect()
      .filterNot(r => dropSet.contains(r._1))
    val deletes = dropped ++ anywhere.map(_._1)
    live --= dropped.map(keyOf) ++ anywhere.map(r => (r._2, r._3))
    commit("delete", tr)(IndexStore.deleteDocs(spark, deletes.toDF("docId"), dir, s"delete-$c", cfg,
      preloaded = Some(idx)))
    cycle += 1
    burst(tr, ops)

    val probe = pool.take(CompactProbes).map(q => q -> Queries.search(spark, idx, q, cfg, Tracer.Off))
    commit("compact", tr)(IndexStore.compact(spark, dir, cfg))
    compacted = (indexBytes, live.toSeq)
    probe.foreach { case (q, h) =>
      out.check(Queries.search(spark, idx, q, cfg, Tracer.Off) == h, s"[${q.text}] changed across compact")
    }
    (added.size.toLong, deletes.size.toLong, rows.length.toLong)
  }

  def window(tr: Tracer, seconds: Double): Window = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var appended = 0L
    var deleted = 0L
    var sweptDocs = 0L
    val before = (times.keySet ++ dedup.times.keySet).map(k => k -> (times(k).size, dedup.times(k).size)).toMap
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val cyclesBefore = cycle
    try {
      while (cycle == cyclesBefore || System.nanoTime() < end) {
        val (a, d, sd) = oneCycle(tr, ops)
        appended += a
        deleted += d
        sweptDocs += sd
      }
    } catch { case t: Throwable => out.fail(s"ingest cycle $cycle", t) }
    def mine(k: String) = times(k).drop(before.get(k).fold(0)(_._1))
    def mineSweep(k: String) = dedup.times(k).drop(before.get(k).fold(0)(_._2))
    val writeSec = Seq("append", "delete", "compact", "load").map(k => mine(k).sum).sum
    val sweeps = Dedup.Steps.map(mineSweep).transpose.map(_.sum)
    val secs = ops.map(_.sec).toSeq
    Window(ops.toSeq, appended / writeSec, med(sweeps), Seq(
      "query_p50_s" -> Metric(med(secs), "s"),
      "query_p95_s" -> Metric(Stats.quantile(secs, 0.95), "s"),
      "query_samples" -> Metric(secs.size, "count"),
      "build_turns_per_s" -> Metric(lastBuild.manifest.metrics("turnsPerSec"), "1/s"),
      "append_turns_per_s" -> Metric(appended / mine("append").sum, "1/s"),
      "delete_p50_s" -> Metric(med(mine("delete")), "s"),
      "deleted_docs" -> Metric(deleted, "count"),
      "compact_s" -> Metric(med(mine("compact")), "s"),
      "reload_p50_s" -> Metric(med(mine("load")), "s"),
      "sweep_s" -> Metric(med(sweeps), "s"),
      "dedup_docs_per_s" -> Metric(sweptDocs / Dedup.DedupSteps.map(s => mineSweep(s).sum).sum, "1/s"),
      "ann_vectors_per_s" -> Metric(sweptDocs / Dedup.AnnSteps.map(s => mineSweep(s).sum).sum, "1/s"),
      "cycles" -> Metric(cycle - cyclesBefore, "count"),
      "base_turns" -> Metric(lastBuild.manifest.docCount, "count"),
      "appended_turns" -> Metric(appended, "count")) ++
      Dedup.Steps.map(s => s"${Dedup.layer(s)}.$s.p50_s" -> Metric(med(mineSweep(s)), "s")))
  }

  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** On-disk bytes of every dir the current manifest references. */
  private def indexBytes: Double = {
    val m = idx.manifest
    (m.blockDirs ++ m.docDirs ++ m.tombstoneDirs :+ m.termstatsDir).filter(_.nonEmpty)
      .map(d => org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(s"$dir/$d")).toDouble).sum
  }

  def check(): Unit = {
    val (bytes, liveKeys) = compacted
    val textBytes = convs(0, BaseConvs + cycle * AppendConvs).toDF()
      .join(liveKeys.toDF("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"), "left_semi")
      .agg(sum(length(col("text")))).first().getLong(0)
    bytesPerTextByte = bytes / textBytes
  }

  override def checkReport: Seq[(String, Metric)] =
    Seq("index_bytes_per_text_byte" -> Metric(bytesPerTextByte, "ratio"))

  override def resultDigests: Map[String, String] =
    (0 to gen).flatMap(g => digests.all(g).map { case (q, h) =>
      f"$g%04d|${q.msm}|${q.text}" -> h.hashCode.toHexString }).toMap

  def foreground(scope: String): Boolean =
    Queries.Classes.contains(scope) || Set("append", "delete", "compact", "load").contains(scope) ||
      Dedup.Steps.contains(scope)

  def layers(tr: Tracer, w: Window): Seq[(String, Metric)] =
    Layers.build(lastBuild) ++ Layers.queries(tr, w) ++ dedup.layers(tr) ++
      Seq("load", "append", "delete", "compact").map(k => s"store.${k}_s" -> Metric(tr.median(k), "s")) :+
      ("tombstones.live" -> Metric(maxTombstones.toDouble, "count"))
}

object Ingest {
  val BaseConvs = 700L
  val AppendConvs = 60L
  val PoolSize = 48
  // two bursts a cycle reach position 12 of the pool, the first `not` query
  val BurstSize = 7
  val CompactProbes = 2
  val RandomDeleteShare = 0.01
}
