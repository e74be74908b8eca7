package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Analyzer
import graft.index.{IndexBuilder, IndexStore}
import graft.query.QueryEngine

/** One search-box query of a class, with its minimum-should-match. */
final case class Q(text: String, cls: String, msm: Int)

/** Seeded query pools over the generator's vocabulary, the timed `search`
  * call, and the correctness checks shared by the serve and ingest
  * workloads. */
object Queries {
  val K = 10

  /** Class weights of the mix. Plain 1–4-term queries dominate; phrase
    * classes need a positional index. */
  val Mix: Seq[(String, Double)] = Seq(
    "plain" -> 0.55, "and" -> 0.07, "not" -> 0.05, "msm" -> 0.06, "prefix" -> 0.06,
    "phrase" -> 0.05, "slop" -> 0.05, "phrase_terms" -> 0.05, "role" -> 0.06)
  val PhraseClasses = Set("phrase", "slop", "phrase_terms")
  val Classes: Seq[String] = Mix.map(_._1)

  /** `n` queries drawn by `seed`; phrases are cut from sampled corpus
    * texts so that they occur. Every seed gets the same classes in the
    * same order — the mix's weights spread evenly by smooth weighted
    * round robin — so any run of consecutive queries has the mix's
    * proportions; the seed draws the terms. */
  def pool(seed: Long, n: Int, sample: Seq[String], positional: Boolean): Seq[Q] = {
    val rnd = new scala.util.Random(seed * 1000003L + 11)
    val vocab = Gen.vocab
    val sampleToks = sample.map(t => Analyzer.tokenize(t)).filter(_.size >= 3).toIndexedSeq
    // head / mid / tail bands of the Zipf rank order; tail terms come from
    // the sampled texts, so that every drawn term occurs in the corpus
    val rankOf = vocab.zipWithIndex.toMap
    val tail = sampleToks.flatten.distinct.filter(t => rankOf.get(t).exists(_ >= 2000)).sorted
    def term(): String = {
      val b = rnd.nextDouble()
      if (b < 0.3) vocab(rnd.nextInt(50))
      else if (b < 0.75) vocab(50 + rnd.nextInt(1950))
      else tail(rnd.nextInt(tail.size))
    }
    def terms(n: Int): Seq[String] = Iterator.continually(term()).distinct.take(n).toSeq
    def phrase(): String = {
      val ts = sampleToks(rnd.nextInt(sampleToks.size))
      val len = if (rnd.nextDouble() < 0.3) 3 else 2
      val i = rnd.nextInt(ts.size - len + 1)
      ts.slice(i, i + len).mkString(" ")
    }
    def draw(cls: String): Q = cls match {
      case "plain" => Q(terms(1 + rnd.nextInt(4)).mkString(" "), "plain", 1)
      case "and" => val ts = terms(2 + rnd.nextInt(2)); Q(ts.mkString(" "), "and", ts.size)
      case "not" => val ts = terms(2 + rnd.nextInt(2)); Q(s"${ts.init.mkString(" ")} -${ts.last}", "not", 1)
      case "msm" => Q(terms(4).mkString(" "), "msm", 2)
      case "prefix" => Q(s"${vocab(50 + rnd.nextInt(4000)).take(4)}* ${term()}", "prefix", 1)
      case "phrase" => Q("\"" + phrase() + "\"", "phrase", 1)
      case "slop" => Q("\"" + phrase() + "\"~2", "slop", 1)
      case "phrase_terms" => Q("\"" + phrase() + "\" " + term(), "phrase_terms", 1)
      case _ =>
        val role = Seq("user", "assistant", "tool")(rnd.nextInt(3))
        Q(s"role:$role ${terms(1 + rnd.nextInt(2)).mkString(" ")}", "role", 1)
    }
    val mix = Mix.filter { case (c, _) => positional || !PhraseClasses.contains(c) }
    val total = mix.map(_._2).sum
    val credit = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val order = Seq.fill(n) {
      mix.foreach { case (c, w) => credit(c) += w }
      val c = mix.map(_._1).maxBy(credit)
      credit(c) -= total
      c
    }
    val seen = mutable.Set.empty[(String, Int)]
    order.map(cls => Iterator.continually(draw(cls)).find(q => seen.add((q.text, q.msm))).get)
  }

  type Hits = Seq[(Long, Double)]

  private def hits(df: DataFrame): Hits =
    df.select(col("docId").cast("long"), col("score").cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** One timed `search` of `q` against `idx`, as a traced request of the
    * query's class: parse (traced runs only), plan (until `search` returns
    * its DataFrame) and exec (the collect). */
  def search(spark: SparkSession, idx: IndexStore.Index, q: Q, cfg: IndexBuilder.Config,
      tr: Tracer): Hits =
    tr.request(q.cls) {
      if (tr.enabled) tr.span("query.parse")(QueryEngine.parseQuery(q.text))
      val df = tr.span("query.plan") {
        QueryEngine.search(spark, idx.blocks, idx.termStats, idx.corpus, q.text, K, q.msm,
          cfg, idx.tombstoneSet, Some(idx.docs.toDF()))
      }
      tr.span("query.exec")(hits(df))
    }

  /** One `searchBatch` over msm-1 queries; per-qid hits ordered like
    * `search`. */
  def batch(spark: SparkSession, idx: IndexStore.Index, qs: Seq[Q], cfg: IndexBuilder.Config,
      tr: Tracer): Map[String, Hits] =
    tr.request("batch") {
      val df = tr.span("query.plan") {
        QueryEngine.searchBatch(spark, idx.blocks, idx.termStats, idx.corpus,
          qs.zipWithIndex.map { case (q, i) => s"q$i" -> q.text }, K, 1, cfg,
          idx.tombstoneSet, Some(idx.docs.toDF()))
      }
      val rows = tr.span("query.exec") {
        df.select(col("qid"), col("docId").cast("long"), col("score").cast("double")).collect()
      }
      val byQid = rows.groupBy(_.getString(0)).map { case (k, rs) =>
        k -> rs.map(r => (r.getLong(1), r.getDouble(2))).sortBy(h => (-h._2, h._1)).toSeq
      }
      qs.indices.map(i => qs(i).text -> byQid.getOrElse(s"q$i", Nil)).toMap
    }

  /** First result per (index generation, query); a later run of the same
    * query on the same generation must repeat it exactly. */
  final class Digests {
    private val first = new ConcurrentHashMap[(Int, Q), Hits]()
    def record(gen: Int, q: Q, h: Hits, out: Outcome): Unit = {
      val prev = first.putIfAbsent((gen, q), h)
      out.check(prev == null || prev == h, s"repeat of [${q.text}] changed its hits")
    }
    def all(gen: Int): Map[Q, Hits] = {
      import scala.jdk.CollectionConverters._
      first.asScala.collect { case ((g, q), h) if g == gen => q -> h }.toMap
    }
  }

  private def sameHits(a: Hits, b: Hits): Boolean =
    a.size == b.size && a.zip(b).forall { case ((d1, s1), (d2, s2)) =>
      d1 == d2 && math.abs(s1 - s2) <= 1e-9 * math.max(1.0, math.abs(s1))
    }

  /** Plain and AND (msm = all terms) top-k against `exhaustiveTopK` over
    * the relational form of the same corpus. An AND query's oracle is the
    * exhaustive ranking restricted to docs containing every term. */
  def checkExhaustive(spark: SparkSession, rel: IndexBuilder.Relations, cfg: IndexBuilder.Config,
      got: Map[Q, Hits], out: Outcome): Unit =
    got.foreach { case (q, h) =>
      val expected =
        if (q.cls == "plain") hits(QueryEngine.exhaustiveTopK(spark, rel, q.text, K, cfg))
        else {
          val ts = Analyzer.analyzeQuery(q.text, cfg.analyzer).map(_._1)
          val all = rel.postings.filter(col("term").isin(ts: _*))
            .groupBy(col("docId")).agg(countDistinct(col("term")).as("m"))
            .filter(col("m") === ts.size).select(col("docId"))
          hits(QueryEngine.exhaustiveTopK(spark,
            rel.copy(postings = rel.postings.join(all, Seq("docId"), "left_semi")), q.text, K, cfg))
        }
      out.check(sameHits(h, expected), s"[${q.text}] (${q.cls}) differs from exhaustiveTopK")
    }

  /** Every searchBatch qid equals `search` of the same text. */
  def checkBatch(batchHits: Map[String, Hits], searchHits: String => Hits, out: Outcome): Unit =
    batchHits.foreach { case (text, h) =>
      out.check(sameHits(h, searchHits(text)), s"searchBatch [$text] differs from search")
    }
}
