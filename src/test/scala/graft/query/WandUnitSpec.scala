package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Codec, TombstoneSet}
import graft.index.Codec.P
import graft.model.PostingBlock
import graft.query.QueryEngine.{Phrase, QTerm, TermQuery, WandScorer}

/** Direct unit tests of the evaluator (block-max WAND with
  * minimum-should-match, exclusions and phrase constraints) against a
  * scalar brute force over the SAME encoded blocks — no Spark involved, so
  * adversarial block layouts (weak current block, docId ties at the pivot,
  * multi-block lists) can be constructed exactly.
  */
class WandUnitSpec extends AnyFunSuite {

  private val k1 = 1.2
  private val b = 0.75

  /** Positions of each term in each doc, keyed by (term, docId). */
  private type Positions = Map[(String, Long), Seq[Int]]

  private def blk(shard: Int, term: String, idx: Int, ps: Seq[P],
      pos: Positions = Map.empty): PostingBlock =
    PostingBlock(shard, term, idx, ps.head.docId, ps.last.docId, ps.size,
      ps.map(_.tf).max, ps.map(_.dl).min, ps.map(_.tf.toLong).sum, Codec.encode(ps),
      if (pos.isEmpty) Array.emptyByteArray
      else Codec.encodePositions(ps.map(p => pos((term, p.docId)).toArray)))

  /** Scalar phrase matcher, exhaustive rather than greedy: some strictly
    * increasing chain of the phrase words' positions spans at most
    * (n-1)+slop.
    */
  private def phraseHolds(pos: Positions, doc: Long, ph: Phrase): Boolean = {
    val lists = ph.terms.map(t => pos.getOrElse((t, doc), Nil))
    val bound = ph.terms.length - 1 + ph.slop
    def chain(start: Int, j: Int, prev: Int): Boolean =
      j == lists.length ||
        lists(j).exists(p => p > prev && p - start <= bound && chain(start, j + 1, p))
    lists.head.exists(s => chain(s, 1, s))
  }

  /** Scalar brute force over decoded blocks: a doc qualifies when it holds
    * at least m of the SHOULD terms, none of the MUST_NOT terms, no
    * tombstone and every phrase; its score sums the same formula in
    * ascending term order; the top-k is taken under (score desc, docId asc).
    */
  private def bruteForce(blocks: Seq[PostingBlock], q: TermQuery, k: Int, avgdl: Double,
      tombstones: Set[Long] = Set.empty, pos: Positions = Map.empty): Seq[(Long, Double)] = {
    def postings(term: String): Map[Long, P] =
      blocks.filter(_.term == term).flatMap(bl => Codec.decode(bl.payload, bl.n))
        .map(p => p.docId -> p).toMap
    val should = q.should.sortBy(_.term).map(qt => qt -> postings(qt.term))
    val banned = q.mustNot.flatMap(postings(_).keys).toSet ++ tombstones
    val docs = should.flatMap(_._2.keys).distinct.filterNot(banned)
      .filter(d => q.phrases.forall(phraseHolds(pos, d, _)))
    docs.filter(d => should.count(_._2.contains(d)) >= q.m).map { d =>
      var s = 0.0
      should.foreach { case (qt, ps) =>
        ps.get(d).foreach { p =>
          s += qt.weight * (p.tf * (k1 + 1.0) / (p.tf + k1 * (1.0 - b + b * p.dl / avgdl)))
        }
      }
      (d, s)
    }.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  private def evaluate(blocks: Seq[PostingBlock], q: TermQuery, k: Int, avgdl: Double,
      tombstones: Set[Long] = Set.empty): Seq[(Long, Double)] = {
    val sorted = blocks.sortBy(b => (b.shardId, b.term, b.minDocId))
    WandScorer.scorePartition(sorted.iterator.buffered, Seq("q" -> q), k, k1, b, avgdl,
      TombstoneSet.fromIds(tombstones.toArray))
      .map { case (_, d, s) => (d, s) }
      .toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  test("skip bound covers ALL cursors tied at the pivot (adversarial layout)") {
    // Term a: weak first block (maxTf=1) containing doc 5, strong later
    // block (doc 9, tf=100) that inflates a's GLOBAL upper bound past theta.
    // Term b: doc 5 sits in a strong block (tf=50). After doc 1 sets
    // theta, both cursors tie at doc 5; a prefix-only pivot stops at a
    // (globalUb_a > theta), and a's current-block bound alone is <= theta —
    // an unsound skip would drop doc 5, the true top-1.
    val blocks = Seq(
      blk(0, "a", 0, Seq(P(1, 1, 10), P(5, 1, 10))),
      blk(0, "a", 1, Seq(P(9, 100, 10))),
      blk(0, "b", 0, Seq(P(1, 1, 10))),
      blk(0, "b", 1, Seq(P(5, 50, 10))))
    val q = TermQuery(Seq(QTerm("a", 1.0), QTerm("b", 1.0)), 1, Nil)
    val want = bruteForce(blocks, q, 1, avgdl = 10.0)
    val got = evaluate(blocks, q, 1, avgdl = 10.0)
    assert(want.head._1 == 5L, "fixture must make doc 5 the true top-1")
    assert(got == want, s"WAND dropped the tied pivot: got $got want $want")
  }

  test("randomized block layouts: WAND == exhaustive for 300 corpora") {
    val rnd = new scala.util.Random(20260816L)
    (1 to 300).foreach { iter =>
      val nTerms = 2 + rnd.nextInt(3)
      val terms = (0 until nTerms).map(i => s"t$i")
      val nDocs = 3 + rnd.nextInt(20)
      val blockSize = 2 + rnd.nextInt(2)
      val avgdl = 8.0 + rnd.nextInt(5)
      val blocks = terms.flatMap { t =>
        val docIds = (1 to nDocs).filter(_ => rnd.nextDouble() < 0.6).map(_.toLong)
        docIds.grouped(blockSize).zipWithIndex.map { case (ids, bi) =>
          blk(0, t, bi, ids.map(id => P(id, 1 + rnd.nextInt(60), 5 + rnd.nextInt(10))))
        }
      }.filter(_.n > 0)
      if (blocks.nonEmpty) {
        val q = TermQuery(terms.map(t => QTerm(t, 0.5 + rnd.nextDouble() * 2.0)), 1, Nil)
        (1 to 3).foreach { k =>
          val want = bruteForce(blocks, q, k, avgdl)
          val got = evaluate(blocks, q, k, avgdl)
          assert(got == want, s"iter=$iter k=$k: got $got want $want")
        }
      }
    }
  }

  test("m = 2: the pivot never stops before the second cursor") {
    // a's global bound (doc 5, tf=100) alone beats theta once doc 1 fills
    // the heap, so the first prefix index beating theta is 0. With m = 2
    // the pivot must still be cursor 1 (b at doc 6): doc 5 holds only a
    // and must never be scored.
    val blocks = Seq(
      blk(0, "a", 0, Seq(P(1, 1, 10), P(2, 1, 10), P(5, 100, 10))),
      blk(0, "b", 0, Seq(P(1, 1, 10), P(2, 1, 10), P(6, 1, 10))))
    val q = TermQuery(Seq(QTerm("a", 1.0), QTerm("b", 1.0)), 2, Nil)
    val want = bruteForce(blocks, q, 1, avgdl = 10.0)
    assert(want.map(_._1) == Seq(1L), "fixture: doc 1 is the only-and-best 2-of-2 match")
    assert(bruteForce(blocks, q.copy(m = 1), 1, avgdl = 10.0).map(_._1) == Seq(5L),
      "fixture: doc 5 must top an m = 1 ranking")
    assert(evaluate(blocks, q, 1, avgdl = 10.0) == want)
    assert(evaluate(blocks, q, 10, avgdl = 10.0) == bruteForce(blocks, q, 10, avgdl = 10.0))
  }

  test("an excluded term's only posting is the doc that would top the heap") {
    val blocks = Seq(
      blk(0, "a", 0, Seq(P(1, 1, 10), P(4, 50, 10))),
      blk(0, "a", 1, Seq(P(7, 2, 10), P(9, 1, 10))),
      blk(0, "x", 0, Seq(P(4, 1, 10))))
    val q = TermQuery(Seq(QTerm("a", 1.0)), 1, Seq("x"))
    assert(bruteForce(blocks, q.copy(mustNot = Nil), 1, avgdl = 10.0).map(_._1) == Seq(4L),
      "fixture: doc 4 must top the ranking without the exclusion")
    Seq(1, 3).foreach { k =>
      val got = evaluate(blocks, q, k, avgdl = 10.0)
      assert(got == bruteForce(blocks, q, k, avgdl = 10.0), s"k=$k")
      assert(!got.exists(_._1 == 4L), s"k=$k: the excluded doc surfaced")
    }
  }

  test("a phrase's words both sit in the top doc, but not within the slop") {
    // doc 4 holds a at 1..5 and b at 11..15: no b within 2 of an a
    val pos: Positions = Map(
      ("a", 1L) -> Seq(3), ("b", 1L) -> Seq(4),
      ("a", 4L) -> (1 to 5), ("b", 4L) -> (11 to 15),
      ("a", 7L) -> Seq(2, 8), ("b", 7L) -> Seq(10))
    def p(term: String, doc: Long) = P(doc, pos((term, doc)).size, 20)
    val blocks = Seq(
      blk(0, "a", 0, Seq(p("a", 1), p("a", 4), p("a", 7)), pos),
      blk(0, "b", 0, Seq(p("b", 1), p("b", 4)), pos),
      blk(0, "b", 1, Seq(p("b", 7)), pos))
    val q = TermQuery(Seq(QTerm("a", 1.0), QTerm("b", 1.0)), 1, Nil,
      Seq(Phrase(Seq("a", "b"), 1)))
    assert(bruteForce(blocks, q.copy(phrases = Nil), 1, avgdl = 10.0).map(_._1) == Seq(4L),
      "fixture: doc 4 must top the ranking without the phrase")
    Seq(1, 3).foreach { k =>
      val want = bruteForce(blocks, q, k, avgdl = 10.0, pos = pos)
      val got = evaluate(blocks, q, k, avgdl = 10.0)
      assert(want.nonEmpty && got == want, s"k=$k: got $got want $want")
      assert(!got.exists(_._1 == 4L), s"k=$k: the out-of-slop doc surfaced")
    }
  }

  test("property: m-of-n with exclusions and tombstones == brute force") {
    val rnd = new scala.util.Random(20261017L)
    var nonEmpty = 0
    var phraseCut = 0 // cases where a phrase dropped a doc yet some doc matched
    (1 to 400).foreach { iter =>
      val nTerms = 1 + rnd.nextInt(4)
      val should = (0 until nTerms).map(i => s"t$i")
      // MUST_NOT terms are separate terms or, now and then, a SHOULD term
      val mustNot = Seq.fill(rnd.nextInt(3))(
        if (rnd.nextInt(4) == 0) should(rnd.nextInt(nTerms)) else s"x${rnd.nextInt(2)}").distinct
      val nShards = 1 + rnd.nextInt(3)
      val span = 8 + rnd.nextInt(20) // docIds per shard
      val blockSize = 1 + rnd.nextInt(3)
      val avgdl = 8.0 + rnd.nextInt(5)
      // every term draws from the same per-shard docId range, so docIds tie
      // across terms; block splits differ per term
      val maxTf = if (rnd.nextBoolean()) 40 else 4
      val postings = (should ++ mustNot).distinct.map { t =>
        val density = 0.2 + rnd.nextDouble() * 0.6
        t -> (0 until nShards).map { sh =>
          (0 until span).filter(_ => rnd.nextDouble() < density)
            .map(i => P(sh.toLong * span + i, 1 + rnd.nextInt(maxTf), 3 + rnd.nextInt(15)))
        }
      }
      // each doc's terms take tf distinct (1-based) slots of a token stream
      // `spread` times longer than their total tf
      val spread = 1 + rnd.nextInt(3)
      val pos: Positions = postings
        .flatMap { case (t, byShard) => byShard.flatten.map(p => (p.docId, t, p.tf)) }
        .groupBy(_._1).values.flatMap { ts =>
          val slots = rnd.shuffle((1 to ts.map(_._3).sum * spread).toList)
          ts.zip(ts.scanLeft(0)(_ + _._3)).map { case ((d, t, tf), off) =>
            (t, d) -> slots.slice(off, off + tf).sorted
          }
        }.toMap
      val blocks = postings.flatMap { case (t, byShard) =>
        byShard.zipWithIndex.flatMap { case (ps, sh) =>
          ps.grouped(blockSize).zipWithIndex.map { case (g, bi) => blk(sh, t, bi, g, pos) }
        }
      }
      val tombstones = (0L until nShards.toLong * span)
        .filter(_ => rnd.nextDouble() < 0.1).toSet
      // 2-3 words over the SHOULD terms, now and then a repeated one
      val phrases = Seq.fill(rnd.nextInt(3)) {
        val words = Seq.fill(2 + rnd.nextInt(2))(should(rnd.nextInt(nTerms)))
        Phrase(if (rnd.nextInt(5) == 0) words else words.distinct.padTo(2, words.head),
          rnd.nextInt(3))
      }
      // weight = qtf * idf
      val q = TermQuery(
        should.map(t => QTerm(t, (1 + rnd.nextInt(3)) * (0.2 + rnd.nextDouble() * 3.0))),
        1 + rnd.nextInt(nTerms), mustNot, phrases)
      val all = bruteForce(blocks, q, Int.MaxValue, avgdl, tombstones, pos)
      if (all.nonEmpty && phrases.nonEmpty &&
          bruteForce(blocks, q.copy(phrases = Nil), Int.MaxValue, avgdl, tombstones).size > all.size)
        phraseCut += 1
      Seq(1, 3, 10).foreach { k =>
        val want = bruteForce(blocks, q, k, avgdl, tombstones, pos)
        val got = evaluate(blocks, q, k, avgdl, tombstones)
        assert(got == want, s"iter=$iter k=$k q=$q: got $got want $want")
        if (want.nonEmpty) nonEmpty += 1
      }
    }
    info(s"non-empty cases: $nonEmpty of 1200; phrase cut a non-empty result: $phraseCut of 400")
    assert(nonEmpty > 600, s"property mostly vacuous: $nonEmpty non-empty cases")
    assert(phraseCut > 60, s"phrases rarely cut a non-empty result: $phraseCut cases")
  }
}
