package perfbench

import graft.functions.Analyzer
import graft.index.Codec

/** Spark-free layers timed on sampled generator texts: the analyzer
  * (`Analyzer.tokenize`) and the block codec (`Codec.encodeRaw`,
  * `Codec.decode`) over posting lists built from the same texts. */
object Micro {

  /** Repeats `f` (which returns its work count) for at least `minSec`;
    * returns work per second of the fastest of three such rounds. */
  private def rate(minSec: Double)(f: => Long): Double =
    (0 until 3).map { _ =>
      var work = 0L
      val t0 = System.nanoTime()
      var el = 0.0
      while (el < minSec) {
        work += f
        el = (System.nanoTime() - t0) / 1e9
      }
      work / el
    }.max

  def metrics(texts: Seq[String], tr: Tracer): Seq[(String, Metric)] = {
    require(texts.nonEmpty, "no sample texts")
    val tokensPerSec = tr.span("analyzer.tokenize") {
      rate(0.2)(texts.iterator.map(t => Analyzer.tokenize(t).size.toLong).sum)
    }
    // posting lists of the sample: docId = sample index, ascending per term
    val toks = texts.map(t => Analyzer.tokenize(t))
    val lists = toks.zipWithIndex
      .flatMap { case (ts, d) => ts.groupBy(identity).map { case (t, occ) => (t, d.toLong, occ.size, ts.size) } }
      .groupBy(_._1).values.toSeq
      .flatMap(_.sortBy(_._2).grouped(Codec.BlockSize))
      .map(b => (b.map(_._2).toArray, b.map(_._3).toArray, b.map(_._4).toArray))
    val postings = lists.map(_._1.length.toLong).sum
    val encodePerSec = tr.span("codec.encode") {
      rate(0.2) { lists.foreach(l => Codec.encodeRaw(l._1, l._2, l._3, l._1.length)); postings }
    }
    val blocks = lists.map(l => (Codec.encodeRaw(l._1, l._2, l._3, l._1.length), l._1.length))
    val decodePerSec = tr.span("codec.decode") {
      rate(0.2) { blocks.foreach { case (b, n) => Codec.decode(b, n) }; postings }
    }
    Seq(
      "analyzer.tokens_per_s" -> Metric(tokensPerSec, "1/s"),
      "codec.encode_postings_per_s" -> Metric(encodePerSec, "1/s"),
      "codec.decode_postings_per_s" -> Metric(decodePerSec, "1/s"))
  }
}
