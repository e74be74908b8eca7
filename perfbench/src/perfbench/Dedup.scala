package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TrainingData

/** The near-duplicate sweep of the ingest pipeline over a set of docs
  * (doc_id, text): `minhashLshPairs` and `simhashPairs`, `clusterPairs` over
  * their union, then `keepSet`; then, over seeded embeddings of the same
  * docs ([[Gen.embeddings]]), `embeddingCosinePairs` and `annIvfPqTopK`.
  * Each step is one traced request; its duration is kept per step name. */
final class Dedup(seed: Long, out: Outcome) {
  import Dedup.AnnK

  val times = mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
  // MinHash LSH: (verified pairs, candidate pairs) of every traced sweep
  private val lsh = mutable.ArrayBuffer.empty[(Long, Long)]

  private def step[A](name: String, tr: Tracer)(f: => A): A = {
    val (a, sec) = Stats.time(tr.request(name)(f))
    times(name) :+= sec
    a
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** (vec_id, cos) rows of a top-k, best first. */
  private def cosines(df: DataFrame): Seq[(Long, Double)] =
    df.select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Sweeps `docs`, whose least doc_id is `firstId`; returns the doc_ids
    * the keep-one dedup drops. `dups` are the groups of doc_ids with
    * identical text: every pair in a group must be found by the three pair
    * steps, and at most one member kept (a cluster keeps its least id, which
    * may be a near duplicate's). The ANN top-k of the first doc's vector
    * must rank no cosine above the exact top-k's at the same rank. */
  def sweep(docs: DataFrame, firstId: Long, dups: Seq[Seq[Long]], tr: Tracer): Seq[Long] = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { held += df; df.persist() }
    try {
      val (mh, mhPairs) = step("minhash", tr) {
        val p = keep(TrainingData.minhashLshPairs(docs))
        (p, pairs(p))
      }
      val (sh, shPairs) = step("simhash", tr) {
        val p = keep(TrainingData.simhashPairs(docs))
        (p, pairs(p))
      }
      val clusters = step("cluster", tr) {
        val c = keep(TrainingData.clusterPairs(mh.select("id_a", "id_b").union(sh.select("id_a", "id_b"))))
        c.count()
        c
      }
      val kept = step("keepset", tr) {
        TrainingData.keepSet(docs, clusters).select(col("doc_id")).collect().map(_.getLong(0)).toSet
      }
      val emb = keep(Gen.embeddings(docs, seed, firstId))
      val embPairs = step("cosine_pairs", tr)(pairs(TrainingData.embeddingCosinePairs(emb)))
      val ann = step("ivfpq", tr)(cosines(TrainingData.annIvfPqTopK(emb, AnnK)))
      val exact = cosines(TrainingData.annCosineTopK(emb, AnnK))
      val expected = dups.flatMap(g => g.combinations(2).map(p => (p.min, p.max)))
      out.check(expected.forall(mhPairs.contains), "minhashLshPairs missed an exact-duplicate pair")
      out.check(expected.forall(shPairs.contains), "simhashPairs missed an exact-duplicate pair")
      out.check(expected.forall { case (a, b) => embPairs.contains((a - firstId, b - firstId)) },
        "embeddingCosinePairs missed an exact-duplicate pair")
      out.check(dups.forall(g => g.count(kept.contains) <= 1), "keepSet kept two docs of one duplicate group")
      out.check(ann.nonEmpty && ann.size <= AnnK && ann.map(_._1).distinct.size == ann.size &&
        !ann.exists(_._1 == 0) && ann.map(_._2).zip(exact.map(_._2)).forall { case (a, e) => a <= e + 1e-9 },
        "annIvfPqTopK ranks above the exact cosine top-k")
      if (tr.enabled) {
        // the candidates are recomputed here, so they must still be the
        // ones minhashLshPairs verifies: every verified pair is one of them
        val cand = lshCandidates(docs)
        out.check(mhPairs.forall(cand.contains),
          "a verified MinHash pair is not an LSH candidate: lshCandidates no longer mirrors minhashLshPairs")
        lsh += mhPairs.size.toLong -> cand.size.toLong
      }
      docs.select(col("doc_id")).collect().map(_.getLong(0)).filterNot(kept.contains).toSeq
    } finally held.foreach(_.unpersist())
  }

  /** MinHash LSH candidate pairs of `docs`, formed from TrainingData's
    * public stages exactly as `minhashLshPairs` forms them (signature,
    * banding, `boundedPairs`); a change to that code must be made here too. */
  private def lshCandidates(docs: DataFrame): Set[(Long, Long)] = {
    val minCols = (0 until TrainingData.MinhashHashes).map(i =>
      min(element_at(col("mhs"), i + 1)).as(s"mh$i"))
    val sig = TrainingData.shingleSets(docs)
      .withColumn("mhs", graft.plans.MinhashPrefixes(col("sh")))
      .groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val banded = sig.select(col("doc_id"), posexplode(array(
      (0 until TrainingData.MinhashBands).map(b =>
        md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")))): _*)).as(Seq("band", "bucket")))
    pairs(TrainingData.boundedPairs(banded, Seq("band", "bucket"), "doc_id"))
  }

  def layers(tr: Tracer): Seq[(String, Metric)] =
    Dedup.Steps.map(s => s"${Dedup.layer(s)}.${s}_s" -> Metric(tr.median(s), "s")) :+
      ("dedup.verified_over_candidate_pairs" ->
        Metric(lsh.map(_._1).sum.toDouble / math.max(1L, lsh.map(_._2).sum), "ratio"))
}

object Dedup {
  val DedupSteps = Seq("minhash", "simhash", "cluster", "keepset")
  val AnnSteps = Seq("cosine_pairs", "ivfpq")
  val Steps: Seq[String] = DedupSteps ++ AnnSteps
  val AnnK = 10

  /** The metric prefix of a step: `dedup` or `ann`. */
  def layer(step: String): String = if (AnnSteps.contains(step)) "ann" else "dedup"
}
