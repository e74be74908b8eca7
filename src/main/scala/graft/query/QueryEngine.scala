package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Analyzer
import graft.index.{Codec, IndexBuilder, TombstoneSet}
import graft.model._

/** Top-k BM25 query engine. Two exact, rank-identical paths:
  *
  *   - `exhaustiveTopK`: relational scoring over the postings Dataset —
  *     pure built-in operators (broadcast joins + deterministic per-doc
  *     fold), fully inside whole-stage codegen. This is the semantic
  *     baseline every optimized path must match (SURVEY.md §7.3 step 3).
  *
  *   - `wandTopK`: block-max WAND over the encoded posting blocks in a
  *     typed mapPartitions, one document-at-a-time scorer per docId-range
  *     shard, per-shard top-k heap, then a global
  *     orderBy(score desc, docId asc).limit(k) (Spark plans it as
  *     TakeOrderedAndProject, like the reference's final
  *     orderBy/limit, /root/reference/data_processing/Lexical_indexing/
  *     bm25_searcher.py:111). Block-max metadata is an upper bound used
  *     only to SKIP work, never to approximate — exactness is
  *     property-tested against the exhaustive path.
  *
  * Contrast with the reference's scorer, which funneled every document to
  * a single GPU task via repartition(1) (bm25_searcher.py:102-107); here
  * every shard scores independently and in parallel.
  */
object QueryEngine {

  /** Exact BM25 contribution as a Column — the association mirrors
    * Bm25.contribution token for token so both produce bit-identical
    * doubles.
    */
  private def contributionCol(qtf: Column, idf: Column, tf: Column, dl: Column,
      avgdl: Double, p: Bm25Params): Column =
    qtf * idf * (tf * lit(p.k1 + 1.0) /
      (tf + lit(p.k1) * (lit(1.0 - p.b) + lit(p.b) * dl / lit(avgdl))))

  /** Relational top-k: returns (docId, score), exact doubles, already
    * ordered (score desc, docId asc) and limited to k.
    *
    * Plan shape: postings filtered to the (tiny) query-term set → broadcast
    * joins against query weights and term stats → per-doc deterministic
    * fold in ascending term order (collect_list of <=|q| structs +
    * array_sort + aggregate — never more elements than query terms) →
    * TakeOrderedAndProject.
    */
  def exhaustiveTopK(
      spark: SparkSession,
      rel: IndexBuilder.Relations,
      query: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config()
  ): DataFrame = {
    import spark.implicits._
    val qterms = Analyzer.analyzeQuery(query, cfg.analyzer)
    if (qterms.isEmpty) return emptyScores(spark)
    val qdf = qterms.toDF("term", "qtf")
    val p = cfg.params
    val avgdl = rel.corpus.avgdl

    rel.postings
      .filter($"term".isin(qterms.map(_._1): _*))
      .join(broadcast(qdf), Seq("term"))
      .join(broadcast(rel.termStats.toDF()), Seq("term"))
      .withColumn("contrib",
        contributionCol($"qtf", $"idf", $"tf", $"dl", avgdl, p))
      .groupBy($"docId")
      .agg(collect_list(struct($"term", $"contrib")).as("cs"))
      .select($"docId",
        aggregate(array_sort($"cs"), lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("score"))
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
  }

  private def emptyScores(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Long, Double)].toDF("docId", "score")
  }

  /** Decorate top-k scores with the originating turn (reference join J3
    * shape, bm25_searcher.py:117-120): the k-row side is broadcast.
    */
  def decorate(topK: DataFrame, docs: Dataset[Doc]): DataFrame = {
    docs.toDF()
      .join(broadcast(topK), Seq("docId"))
      .select(col("docId"), col("score"), col("conv_id"), col("turn_idx"), col("text"))
      .orderBy(col("score").desc, col("docId").asc)
  }

  // ------------------------------------------------- the term evaluator

  /** Query-term state passed to executors: weight = qtf * idf. */
  private[query] final case class QTerm(term: String, weight: Double)

  /** A phrase constraint: the analyzed phrase words in order (duplicates
    * kept) and the slop of the ordered-proximity match — the [[phraseTopK]]
    * match rule.
    */
  private[query] final case class Phrase(terms: Seq[String], slop: Int)

  /** A search-box query as the one evaluator runs it: weighted SHOULD
    * terms (dictionary-present, ascending term order), the minimum number
    * `m` of them a document must contain, MUST_NOT terms
    * (dictionary-present) and phrase constraints. Plain queries are m = 1,
    * AND is m = n, `-term` tokens are MUST_NOT, wildcards add SHOULD terms,
    * and a quoted phrase is a filter whose words are also SHOULD terms.
    */
  private[query] final case class TermQuery(should: Seq[QTerm], m: Int, mustNot: Seq[String],
      phrases: Seq[Phrase] = Nil)

  /** A [[TermQuery]] before the dictionary lookup: analyzed (term, qtf)
    * SHOULD terms, analyzed MUST_NOT terms and analyzed phrases, whose
    * words are among the SHOULD terms.
    */
  private final case class TermSpec(qid: String, should: Seq[(String, Int)], m: Int,
      mustNot: Seq[String] = Nil, phrases: Seq[Phrase] = Nil)

  /** Blocks with the positions column kept only for `phraseTerms` and
    * replaced by an empty literal elsewhere: the typed
    * Dataset[PostingBlock] deserializer would otherwise force the parquet
    * scan to read the phrase-only positions bytes on every BM25 query of a
    * positional index (asserted away in PlanSpec).
    */
  private def scoringBlocks(blocks: Dataset[PostingBlock],
      phraseTerms: Seq[String] = Nil): Dataset[PostingBlock] = {
    import blocks.sparkSession.implicits._
    val none = typedLit(Array.emptyByteArray)
    blocks.toDF()
      .withColumn("positions",
        if (phraseTerms.isEmpty) none
        else when($"term".isin(phraseTerms: _*), $"positions").otherwise(none))
      .as[PostingBlock]
  }

  /** The one pipeline behind every search-box query but a lone phrase:
    * ONE idf collect for the whole batch, then ONE term-pushed block scan
    * → hash repartition on shardId → (shardId, term, minDocId) sort →
    * per-shard block-max WAND ([[WandScorer]]). Returns the per-shard
    * top-k candidates as (qid, docId, score), or None when no query can
    * match anything (no scan is issued then).
    *
    * Compilation: a SHOULD term absent from the dictionary is dropped and
    * a query left with fewer than m SHOULD terms is empty; an absent
    * MUST_NOT term excludes nothing; a phrase with no analyzed word, or
    * with a word absent from the dictionary, empties the query.
    */
  private def termCandidates(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      specs: Seq[TermSpec],
      k: Int,
      cfg: IndexBuilder.Config,
      tombstones: TombstoneSet
  ): Option[DataFrame] = {
    import spark.implicits._
    // m >= 1, so a query without SHOULD terms matches nothing
    val live = specs.filter(_.should.nonEmpty)
    val names = live.flatMap(s => s.should.map(_._1) ++ s.mustNot).distinct
    if (names.isEmpty) return None
    val idfs: Map[String, Double] = termStats
      .filter($"term".isin(names: _*))
      .collect().map(t => t.term -> t.idf).toMap
    val compiled: Seq[(String, TermQuery)] = live.flatMap { s =>
      val should = s.should.collect {
        case (t, qtf) if idfs.contains(t) => QTerm(t, qtf * idfs(t))
      }.sortBy(_.term)
      if (should.size < s.m ||
          s.phrases.exists(p => p.terms.isEmpty || !p.terms.forall(idfs.contains))) None
      else {
        // a phrase match holds every phrase word, each a SHOULD term: a
        // higher m only prunes docs that cannot match
        val m = s.m.max(s.phrases.flatMap(_.terms).distinct.size)
        Some(s.qid -> TermQuery(should, m, s.mustNot.filter(idfs.contains), s.phrases))
      }
    }
    if (compiled.isEmpty) return None
    val scanNames = compiled.flatMap { case (_, q) => q.should.map(_.term) ++ q.mustNot }.distinct
    val phraseTerms = compiled.flatMap { case (_, q) => q.phrases.flatMap(_.terms) }.distinct

    val p = cfg.params
    val avgdl = corpus.avgdl
    val kk = k
    val qB = spark.sparkContext.broadcast(compiled)
    val tsB = tombstones.broadcastVia(spark)
    // one task per core, several shards per task (scorePartition iterates
    // shard groups); HASH partitioning on shardId keeps a shard's blocks
    // together without a RangePartitioner's extra sampling job
    val parts = math.max(1, math.min(cfg.numShards,
      spark.sparkContext.defaultParallelism))
    Some(scoringBlocks(blocks, phraseTerms)
      .filter($"term".isin(scanNames: _*))
      .repartition(parts, $"shardId")
      .sortWithinPartitions($"shardId", $"term", $"minDocId")
      .mapPartitions { it =>
        WandScorer.scorePartition(it.buffered, qB.value, kk, p.k1, p.b, avgdl, tsB.value)
      }
      .toDF("qid", "docId", "score"))
  }

  /** A single query: a batch of one, finished by
    * orderBy(score desc, docId asc).limit(k) (planned as
    * TakeOrderedAndProject). With a `docFilter` (docId relation) the
    * shards keep every match (no per-shard cut, so θ stays -inf) and the
    * candidates semi-join the filter before the finish. An executor then
    * holds one shard's matches at a time ([[WandScorer.scorePartition]]);
    * the semi-join and the finish are Spark operators, free to spill.
    */
  private def termTopK(spark: SparkSession, blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat], corpus: CorpusStats, spec: TermSpec, k: Int,
      cfg: IndexBuilder.Config, tombstones: TombstoneSet,
      docFilter: Option[DataFrame] = None): DataFrame =
    termCandidates(spark, blocks, termStats, corpus, Seq(spec),
      if (docFilter.isEmpty) k else Int.MaxValue, cfg, tombstones)
      .fold(emptyScores(spark)) { c =>
        val cands = c.select(col("docId"), col("score"))
        docFilter.fold(cands)(f => cands.join(f, Seq("docId"), "left_semi"))
          .orderBy(col("score").desc, col("docId").asc).limit(k)
      }

  /** A term-query batch in one scoring job, finished by a per-qid window
    * under the same (score desc, docId asc) tie-break.
    */
  private def termTopKBatch(spark: SparkSession, blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat], corpus: CorpusStats, specs: Seq[TermSpec], k: Int,
      cfg: IndexBuilder.Config, tombstones: TombstoneSet): DataFrame = {
    import spark.implicits._
    // a duplicated qid would merge two queries' candidates in the per-qid
    // window finish — reject instead of silently corrupting the top-k
    require(specs.map(_.qid).distinct.size == specs.size,
      s"duplicate qids in batch: ${specs.map(_.qid)}")
    termCandidates(spark, blocks, termStats, corpus, specs, k, cfg, tombstones) match {
      case None => spark.emptyDataset[(String, Long, Double)].toDF("qid", "docId", "score")
      case Some(candidates) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"qid").orderBy($"score".desc, $"docId".asc)
        candidates.withColumn("rn", row_number().over(w))
          .filter($"rn" <= k).drop("rn")
    }
  }

  /** Block-max WAND top-k over encoded blocks (m = 1: disjunctive).
    *
    * @param blocks     the PostingBlock dataset/table (parquet-backed when
    *                   reading a built index; term predicate is pushed to
    *                   the scan)
    * @param termStats  full term-stats relation; only the query's rows are
    *                   collected (<= |q| rows)
    */
  def wandTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      query: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: TombstoneSet = TombstoneSet.empty
  ): DataFrame =
    termTopK(spark, blocks, termStats, corpus,
      TermSpec("", Analyzer.analyzeQuery(query, cfg.analyzer), 1), k, cfg, tombstones)

  /** Multi-query WAND: scores a whole query batch in ONE Spark job,
    * amortizing the per-job scheduler floor (BASELINE.md measured p50
    * latency as floor-bound, not scan-bound) and sharing the block scan +
    * block decodes across queries — the serving shape the reference's API
    * implies (/root/reference/api/combined.py:159-224, one request per
    * query against a shared index).
    *
    * Returns (qid, docId, score): per-qid exact top-k, same per-query
    * results as [[wandTopK]] (property-tested).
    */
  def wandTopKBatch(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      queries: Seq[(String, String)],
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: TombstoneSet = TombstoneSet.empty
  ): DataFrame =
    termTopKBatch(spark, blocks, termStats, corpus,
      queries.map { case (id, q) => TermSpec(id, Analyzer.analyzeQuery(q, cfg.analyzer), 1) },
      k, cfg, tombstones)

  // --------------------------------------------------- shared scorer glue

  /** The shard groups of a (shardId, term, minDocId)-sorted block stream,
    * consumed lazily one at a time: every block of one shard, per term in
    * minDocId order. The single definition behind both block scorers (term
    * and phrase), so each holds one shard's blocks and matches at a time,
    * never the whole partition's.
    */
  private def shardGroups(
      it: BufferedIterator[PostingBlock]): Iterator[Map[String, Array[PostingBlock]]] =
    Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
      val shard = it.head.shardId
      val byTerm = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[PostingBlock]]
      while (it.hasNext && it.head.shardId == shard) {
        val blk = it.next()
        byTerm.getOrElseUpdate(blk.term, scala.collection.mutable.ArrayBuffer.empty) += blk
      }
      byTerm.iterator.map { case (t, bs) => t -> bs.sortBy(_.minDocId).toArray }.toMap
    }

  /** A per-shard decode memo, so a block read by several cursors (several
    * queries, or a query's terms and its phrase) is decoded once. Keyed by
    * (term, minDocId): blockIdx is NOT unique within a (shard, term) after
    * an incremental append (delta blocks restart at 0); minDocId is,
    * because block docId ranges are disjoint.
    */
  private def shardDecoder(): PostingBlock => Array[Codec.P] = {
    val memo = scala.collection.mutable.HashMap.empty[(String, Long), Array[Codec.P]]
    blk => memo.getOrElseUpdate((blk.term, blk.minDocId), Codec.decode(blk.payload, blk.n))
  }

  /** Bounded top-k accumulator under the global tie-break (score desc,
    * docId asc): the evictable worst entry is the smallest score, ties
    * broken toward the larger docId.
    */
  private[query] final class TopKHeap(k: Int) {
    private val ord: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
      def compare(a: (Long, Double), b: (Long, Double)): Int = {
        val c = java.lang.Double.compare(b._2, a._2) // smaller score first
        if (c != 0) c else java.lang.Long.compare(a._1, b._1) // larger docId first
      }
    }
    private val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord)

    /** Current k-th score — WAND's θ; -inf while the heap is unfilled.
      * Within a shard docIds only grow, so a candidate whose upper bound
      * is <= θ can never displace an entry (equal score loses on docId).
      */
    def theta: Double = if (heap.size < k) Double.NegativeInfinity else heap.head._2

    def offer(docId: Long, score: Double): Unit =
      if (heap.size < k) heap.enqueue((docId, score))
      else {
        val worst = heap.head
        if (score > worst._2 || (score == worst._2 && docId < worst._1)) {
          heap.dequeue(); heap.enqueue((docId, score))
        }
      }

    def drain(): Seq[(Long, Double)] = heap.dequeueAll.reverse
  }

  // --------------------------------------------- AND, m-of-n and wildcards

  /** Split a search-box query into (positive text, excluded terms): a
    * whitespace token starting with '-' is an exclusion ("spark join
    * -stream"), everything else is a required term. Both sides go through
    * the ordinary analyzer, so exclusions follow the same case/word-break
    * rules as the index.
    */
  private[graft] def parseBoolean(query: String): (String, Seq[String]) = {
    val (neg, pos) = query.split("\\s+").toSeq.filter(_.nonEmpty)
      .partition(t => t.length > 1 && t.startsWith("-"))
    (pos.mkString(" "), neg.map(_.drop(1)))
  }

  /** Conjunctive (boolean AND) top-k: only documents containing EVERY
    * analyzed query term qualify, ranked by full BM25 over those terms;
    * `-term` tokens exclude documents containing the term. This is the
    * semantics most search boxes apply to plain multi-word queries (the
    * reference UI's free-text search implies it, App.js) — WAND's
    * disjunctive top-k is the recall-oriented complement.
    *
    * It is the term evaluator at m = n: a required term absent from the
    * corpus empties the result before any scan, and per shard the block-max
    * WAND loop prunes on the k-th score like the disjunctive path does,
    * besides skipping blocks on maxDocId metadata without decoding.
    */
  def conjunctiveTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      query: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: TombstoneSet = TombstoneSet.empty
  ): DataFrame = {
    val (posText, negRaw) = parseBoolean(query)
    val analyzed = Analyzer.analyzeQuery(posText, cfg.analyzer)
    val negTerms = negRaw.flatMap(t => Analyzer.tokenize(t, cfg.analyzer)).distinct
    termTopK(spark, blocks, termStats, corpus,
      TermSpec("", analyzed, analyzed.size, negTerms), k, cfg, tombstones)
  }

  /** Shared by [[prefixTopK]] and its oracle builder: wildcard tokens
    * (trailing `*`) are split from literal ones BEFORE analysis ('*' is
    * not a word character — the analyzer would silently strip it), and
    * each prefix is analyzed under the same case/word-break rules as a
    * term. Returns (analyzed literal (term, qtf), (prefix, qtf)).
    */
  private[graft] def parsePrefixQuery(query: String,
      cfg: IndexBuilder.Config): (Seq[(String, Int)], Seq[(String, Int)]) = {
    val rawTokens = query.split("\\s+").toSeq.filter(_.nonEmpty)
    val (wild, plain) = rawTokens.partition(t => t.length > 1 && t.endsWith("*"))
    val literal = Analyzer.analyzeQuery(plain.mkString(" "), cfg.analyzer)
    (literal, analyzePrefixStems(wild.map(_.dropRight(1))))
  }

  /** Wildcard stems analyze WITHOUT the stopword filter: Lucene expands a
    * prefix regardless of what it spells, so `the*` must scan the
    * dictionary (which never contains stopwords — the expansion is still
    * exact) instead of silently matching nothing because the stem itself
    * is a stopword. A multi-word-run stem keeps its last run (`foo-bar*`
    * prefixes on `bar`).
    */
  private[graft] def analyzePrefixStems(stems: Seq[String]): Seq[(String, Int)] =
    stems
      .flatMap(t => Analyzer.tokenize(t, Analyzer.noStopwords).lastOption)
      .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)

  /** The one dictionary scan behind every wildcard expansion: per-stem
    * term lists capped at [[PrefixExpansionCap]] in ascending term order,
    * all stems in ONE job (a union of scans, each with its
    * StringStartsWith predicate pushed to the termstats parquet). Shared by
    * the single-query paths and [[searchBatch]], which expands every
    * query's stems together.
    */
  private def expandStems(
      spark: SparkSession,
      termStats: Dataset[TermStat],
      stems: Seq[String]): Map[String, Seq[String]] = {
    import spark.implicits._
    if (stems.isEmpty) return Map.empty
    val scans = stems.distinct.map { p =>
      termStats.filter($"term".startsWith(p)).select($"term")
        .orderBy($"term").limit(PrefixExpansionCap)
        .withColumn("pfx", lit(p))
    }
    scans.reduce(_ unionByName _).collect()
      .groupBy(_.getString(1)).view
      .mapValues(_.map(_.getString(0)).toSeq.sorted).toMap
  }

  /** Max dictionary terms a single trailing-`*` token may expand to —
    * Lucene's MaxClauseCount shape. Deterministic: the FIRST cap terms in
    * ascending term order (mirrored in the oracle); beyond it a prefix is
    * too unselective to be a useful query anyway.
    */
  val PrefixExpansionCap = 1024

  /** One weight per distinct term: a term typed AND matched by a wildcard
    * sums its occurrences.
    */
  private def mergeWeights(terms: Seq[(String, Int)]): Seq[(String, Int)] =
    terms.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)

  /** Prefix/wildcard top-k: query tokens ending in `*` expand against the
    * term dictionary (Lucene MultiTermQuery, SCORING_BOOLEAN rewrite) and
    * the whole query then runs as ordinary disjunctive WAND over the
    * union — an expanded term scores exactly as if the user had typed it,
    * weighted by the wildcard token's occurrence count. The dictionary
    * scan pushes a StringStartsWith predicate to the termstats parquet
    * (never a corpus touch), and the expansion is capped at
    * [[PrefixExpansionCap]] in ascending term order.
    */
  def prefixTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      query: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: TombstoneSet = TombstoneSet.empty
  ): DataFrame = {
    val (literal, prefixes) = parsePrefixQuery(query, cfg)
    val byStem = expandStems(spark, termStats, prefixes.map(_._1))
    val expanded = prefixes.flatMap { case (p, qtf) => byStem.getOrElse(p, Nil).map(_ -> qtf) }
    termTopK(spark, blocks, termStats, corpus,
      TermSpec("", mergeWeights(literal ++ expanded), 1), k, cfg, tombstones)
  }

  /** Minimum-should-match top-k (Lucene BooleanQuery.minimumShouldMatch):
    * documents containing at least `m` of the query's distinct analyzed
    * terms qualify, ranked by BM25 over the terms they contain. m = 1 is
    * [[wandTopK]], m = n is [[conjunctiveTopK]] without exclusions.
    *
    * A query term absent from the corpus can never match, so it lowers
    * the achievable count: if fewer than m terms have postings the result
    * is empty (Lucene's SHOULD-clause semantics). Per shard it runs the
    * block-max WAND loop with the pivot held at the m-th cursor or later.
    */
  def minShouldMatchTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      query: String,
      m: Int,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: TombstoneSet = TombstoneSet.empty
  ): DataFrame = {
    require(m >= 1, s"minimumShouldMatch must be >= 1, got $m")
    termTopK(spark, blocks, termStats, corpus,
      TermSpec("", Analyzer.analyzeQuery(query, cfg.analyzer), m), k, cfg, tombstones)
  }

  // ------------------------------------------------- unified search box

  /** A parsed search-box query: quoted phrases (optional `~slop` suffix),
    * `-`-prefixed exclusions, trailing-`*` prefix wildcards, plain free
    * terms — the one-text-field serving grammar the reference exposes
    * (/root/reference/api/combined.py:159; App.js search box), which
    * round 4 served through seven separate APIs.
    */
  final case class ParsedQuery(
      free: Seq[String],
      phrases: Seq[(String, Int)],
      excluded: Seq[String],
      prefixes: Seq[String],
      fields: Seq[(String, String)] = Nil)

  private val PhraseRe = """"([^"]*)"(?:~(\d+))?""".r
  private val FieldRe = """^([a-z_]+):(.+)$""".r

  /** The transcript schema's column names — what a `field:value` token may
    * name when no docs relation is available to enumerate columns (derived
    * from the Doc case class so it can never drift from the schema).
    * Docs-present calls still accept any column of the passed relation;
    * docs-less calls treat every other colon-bearing token (URLs,
    * 're:deploy') as stray free text, and a token naming a REAL column
    * throws the same pass-the-docs contract error as before — the same
    * query string never silently changes meaning between the two call
    * shapes.
    */
  val MetadataFields: Set[String] =
    org.apache.spark.sql.Encoders.product[graft.model.Doc].schema.fieldNames.toSet

  /** Largest accepted `~slop`: beyond it proximity is effectively "both
    * terms anywhere in the doc" and the per-start chain bound
    * `(n-1)+slop` must not overflow. Oversized (or unparseable) slops
    * clamp here instead of crashing the serving entry point.
    */
  val MaxSlop = 1 << 20

  /** Parse the search-box grammar. Quoted segments become phrases (an
    * empty or blank quote is dropped); of the remaining whitespace tokens,
    * `field:value` (Lucene fielded-term syntax — lowercase field name)
    * filters on a document metadata column, `-tok` excludes, `tok*` is a
    * prefix wildcard, anything else is a free term. A stray unmatched
    * quote is treated as whitespace.
    */
  def parseQuery(query: String): ParsedQuery = {
    val phrases = PhraseRe.findAllMatchIn(query).map { mm =>
      (mm.group(1), Option(mm.group(2))
        .map(s => s.toIntOption.getOrElse(MaxSlop).min(MaxSlop)).getOrElse(0))
    }.filter(_._1.trim.nonEmpty).toSeq
    val rest = PhraseRe.replaceAllIn(query, " ").replace("\"", " ")
    val toks = rest.split("\\s+").toSeq.filter(_.nonEmpty)
    val (fieldToks, rest2) = toks.partition {
      case FieldRe(_, _) => true
      case _ => false
    }
    val fields = fieldToks.collect { case FieldRe(f, v) => (f, v) }
    val (neg, pos) = rest2.partition(t => t.length > 1 && t.startsWith("-"))
    val (wild, plain) = pos.partition(t => t.length > 1 && t.endsWith("*"))
    ParsedQuery(plain, phrases, neg.map(_.drop(1)), wild, fields)
  }

  /** The unified serving entry point: one call accepting the full
    * search-box grammar — `spark join "data stream"~2 dat* -flink` — plus
    * an optional minimum-should-match.
    *
    * Semantics: a document matches iff it contains every quoted phrase
    * (within that phrase's slop), contains none of the excluded terms, and
    * contains at least `minShouldMatch` of the DISTINCT positive terms
    * (free terms + phrase words + wildcard expansions). Ranking is BM25
    * over the positive terms the document contains. One scoring exception,
    * Lucene-faithful: a LONE quoted phrase (nothing else in the box) keeps
    * PhraseQuery scoring — the phrase as a single term (tf = occurrence
    * count, idf over the phrase df) — exactly [[phraseTopK]].
    *
    * Routing (property-tested against a scalar oracle in SearchSpec):
    *   - `field:value` alone         → match-all under the filter:
    *                                   constant score 0, docId order
    *   - lone `"phrase"~s`           → [[phraseTopK]]
    *   - everything else             → the one evaluator: block-max WAND
    *                                   over the positive terms with
    *                                   minimum-should-match m; per pivot
    *                                   doc the `-term` exclusions and each
    *                                   phrase (positional cursors, within
    *                                   its slop) are checked lazily, so
    *                                   plain, AND, m-of-n, `-term`,
    *                                   wildcard and phrase + term queries
    *                                   all run it; `tok*` stems expand
    *                                   first (one capped, predicate-pushed
    *                                   scan). A `field:value` token keeps
    *                                   every shard match and semi-joins the
    *                                   doc metadata relation (`docs`,
    *                                   REQUIRED then) filtered on the named
    *                                   columns — predicate pushed to its
    *                                   parquet — before the top-k finish.
    *                                   Stats stay corpus-wide (Lucene
    *                                   filter semantics, not a sub-corpus
    *                                   rebuild).
    * Every route is bounded by the query terms' postings — never a corpus
    * scan.
    *
    * @param docs the live documents view ([[graft.index.IndexStore.Index.docs]]
    *             as a DataFrame) — only needed for `field:value` queries.
    */
  def search(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      query: String,
      k: Int,
      minShouldMatch: Int = 1,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: TombstoneSet = TombstoneSet.empty,
      docs: Option[DataFrame] = None
  ): DataFrame = {
    require(minShouldMatch >= 1, s"minShouldMatch must be >= 1, got $minShouldMatch")
    val pq = parseResolved(query, docs)
    // a value that does not parse as its column's type ('turn_idx:abc')
    // compares against null and matches no doc, where an ANSI cast error
    // would fail the query, or a whole batch; a value that parses folds to
    // a typed literal, so the predicate still reaches the docs parquet scan
    val fieldFilter: Option[DataFrame] = if (pq.fields.isEmpty) None else {
      val d = docs.get
      Some(pq.fields.foldLeft(d) { case (acc, (f, v)) =>
        acc.filter(col(f) === lit(v).try_cast(d.schema(f).dataType))
      }.select(col("docId")))
    }
    val spec = termSpec("", pq, minShouldMatch,
      expandStems(spark, termStats, stemsOf(pq).map(_._1)), cfg)
    // a filter-only query ('role:user', no scoring terms) is a match-all
    // under the filter: constant score 0, docId order — Lucene's
    // MatchAllDocsQuery + filter shape, not an empty result. '-term'
    // exclusions still apply ('role:user -spark' = the user turns that
    // don't contain spark), as a doc-level anti-join on the excluded
    // terms' postings. Match-all fires only when the user typed NO
    // positive intent at all: a wildcard that expanded to zero dictionary
    // terms ('role:user zzz*') matches nothing, like Lucene — it must not
    // silently widen to every filtered doc (ADVICE r5).
    if (spec.should.isEmpty && fieldFilter.nonEmpty && pq.phrases.isEmpty &&
        pq.prefixes.isEmpty) {
      import spark.implicits._
      val base = fieldFilter.get
      val filtered =
        if (spec.mustNot.isEmpty) base
        else {
          val exclDocs = scoringBlocks(blocks).toDF()
            .filter($"term".isin(spec.mustNot: _*))
            .select(explode(graft.plans.DecodeBlock($"payload", $"n")).as("pp"))
            .select($"pp.docId".as("docId"))
          base.join(exclDocs, Seq("docId"), "left_anti")
        }
      return filtered.select($"docId", lit(0.0).as("score"))
        .orderBy($"docId".asc).limit(k)
    }
    // more required matches than distinct positive terms is unsatisfiable
    if (spec.should.isEmpty || minShouldMatch > spec.should.size) return emptyScores(spark)
    if (lonePhrase(pq, cfg))
      // a phrase match contains every phrase word, so any satisfiable m is
      // already met — scoring is the phrase-as-one-term PhraseQuery shape
      phraseTopK(spark, blocks, corpus, pq.phrases.head._1, k, cfg,
        pq.phrases.head._2, tombstones)
    else termTopK(spark, blocks, termStats, corpus, spec, k, cfg, tombstones, fieldFilter)
  }

  /** A lone quoted phrase — no other term, exclusion or field in the box —
    * keeps PhraseQuery scoring ([[phraseTopK]]).
    */
  private def lonePhrase(pq: ParsedQuery, cfg: IndexBuilder.Config): Boolean =
    pq.phrases.size == 1 && pq.free.isEmpty && pq.prefixes.isEmpty && pq.fields.isEmpty &&
      pq.excluded.forall(t => Analyzer.tokenize(t, cfg.analyzer).isEmpty)

  /** Forgiveness for accidental colons (Lucene-style search boxes see
    * URLs, 're:deploy', field typos): only tokens naming an ACTUAL doc
    * metadata column act as filters; the rest fall back to free text
    * ('http://x' searches the terms http/x instead of crashing on an
    * unresolved column). Without a docs relation the metadata columns are
    * unknowable, so only the transcript schema's fields count there — a
    * stray 'http://x' falls back to free text instead of crashing the
    * docs-less serving path, and a real field throws the pass-the-docs
    * contract error.
    */
  private def parseResolved(query: String, docs: Option[DataFrame]): ParsedQuery = {
    val pq = parseQuery(query)
    val (knownFields, strayFields) = docs match {
      case Some(d) => pq.fields.partition { case (f, _) => d.columns.contains(f) }
      case None => pq.fields.partition { case (f, _) => MetadataFields.contains(f) }
    }
    if (knownFields.nonEmpty && docs.isEmpty)
      throw new IllegalArgumentException(
        s"query [$query] has field predicates ${knownFields.map(f => f._1 + ":" + f._2)} " +
          "— pass the docs relation")
    pq.copy(free = pq.free ++ strayFields.map { case (f, v) => s"$f $v" }, fields = knownFields)
  }

  /** The analyzed wildcard stems of a parsed query, with their counts. */
  private def stemsOf(pq: ParsedQuery): Seq[(String, Int)] =
    analyzePrefixStems(pq.prefixes.map(_.dropRight(1)))

  /** A parsed query compiled for the evaluator: positive (term, qtf)
    * weights — free terms, phrase words and wildcard expansions, one weight
    * per distinct term — the analyzed exclusions and the analyzed phrases.
    * `byStem` holds the dictionary expansion of every stem of the query
    * ([[expandStems]]).
    */
  private def termSpec(qid: String, pq: ParsedQuery, m: Int,
      byStem: Map[String, Seq[String]], cfg: IndexBuilder.Config): TermSpec = {
    val literal = Analyzer.analyzeQuery(
      (pq.free ++ pq.phrases.map(_._1)).mkString(" "), cfg.analyzer)
    val expanded = stemsOf(pq).flatMap { case (p, qtf) => byStem.getOrElse(p, Nil).map(_ -> qtf) }
    TermSpec(qid, mergeWeights(literal ++ expanded), m,
      pq.excluded.flatMap(t => Analyzer.tokenize(t, cfg.analyzer)).distinct,
      pq.phrases.map { case (ph, slop) => Phrase(Analyzer.tokenize(ph, cfg.analyzer), slop) })
  }

  /** Batched unified search — a whole request batch through the one
    * search-box grammar in as few jobs as possible: every query that is
    * neither fielded nor a lone phrase (plain, AND, `-term`, m-of-n,
    * wildcards, phrase + terms — every such query's stems expand in ONE
    * dictionary scan) shares ONE scoring job of the evaluator (one idf
    * collect, shared block scan + per-shard decode memo, the measured ~3×
    * amortization of the per-job scheduler floor); lone-phrase and
    * fielded queries run their own [[search]] plans and union in. Returns
    * (qid, docId, score), per-qid top-k, each qid identical to a
    * [[search]] call with the same text (property-tested).
    *
    * `minShouldMatch` applies to every query in the batch (callers with
    * per-query msm issue those queries separately).
    */
  def searchBatch(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      queries: Seq[(String, String)],
      k: Int,
      minShouldMatch: Int = 1,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: TombstoneSet = TombstoneSet.empty,
      docs: Option[DataFrame] = None
  ): DataFrame = {
    import spark.implicits._
    require(minShouldMatch >= 1, s"minShouldMatch must be >= 1, got $minShouldMatch")
    // duplicate qids would merge two queries' candidates under one window
    // partition
    require(queries.map(_._1).distinct.size == queries.size,
      s"duplicate qids in batch: ${queries.map(_._1)}")
    // stray colon tokens are classified EXACTLY like search() does, so a
    // query that search() would degrade to free text stays in the shared
    // job instead of paying an individual one for a cosmetic token
    val parsed = queries.map { case (qid, q) => (qid, q, parseResolved(q, docs)) }
    val (own, shared) = parsed.partition { case (_, _, pq) =>
      pq.fields.nonEmpty || lonePhrase(pq, cfg)
    }
    val byStem = expandStems(spark, termStats,
      shared.flatMap { case (_, _, pq) => stemsOf(pq).map(_._1) })
    val specs = shared.map { case (qid, _, pq) => termSpec(qid, pq, minShouldMatch, byStem, cfg) }
    val batched = termTopKBatch(spark, blocks, termStats, corpus, specs, k, cfg, tombstones)
    own.foldLeft(batched) { case (acc, (qid, q, _)) =>
      acc.unionByName(
        search(spark, blocks, termStats, corpus, q, k, minShouldMatch, cfg,
          tombstones, docs)
          .select(lit(qid).as("qid"), $"docId", $"score"))
    }
  }

  // --------------------------------------------------------------- phrase

  /** Exact phrase top-k over a POSITIONAL index (built with
    * `cfg.storePositions = true`): documents containing the analyzed
    * phrase's terms at consecutive positions in the filtered token stream,
    * scored as BM25 of the phrase-as-one-term — tf = phrase occurrence
    * count, df = matching-doc count, idf = ln((N+1)/(df+1)). Standard
    * Lucene PhraseQuery semantics under stopword removal ("state of the
    * art" matches where "state art" are adjacent in the filtered stream).
    *
    * `slop > 0` relaxes adjacency to ordered proximity ("a b"~slop): a
    * match is a strictly increasing position chain p_1 < ... < p_n with
    * p_n - p_1 <= (n-1) + slop, and tf = the number of distinct start
    * positions with at least one such chain (the minimal completion is
    * greedy, so existence is exact). slop = 0 degenerates to adjacency.
    *
    * Plan: term-pushed block scan (positions column read — other paths
    * project it only for phrase words) → per-shard document-at-a-time positional
    * intersect in mapPartitions (docId-sharding co-locates all of a doc's
    * postings, so no cross-shard coordination; candidates are bounded by
    * the rarest term's postings — never a token-level explode/shuffle) →
    * persisted match relation → global df → score + TakeOrderedAndProject.
    */
  def phraseTopK(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      corpus: CorpusStats,
      phrase: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      slop: Int = 0,
      tombstones: TombstoneSet = TombstoneSet.empty
  ): DataFrame = {
    import spark.implicits._
    val lazyMatches = phraseMatches(spark, blocks, phrase, cfg, slop, tombstones)
      .getOrElse(return emptyScores(spark))
    // two consumers (df count + scoring): persisted, left to LRU eviction
    // like the other one-shot sweep intermediates (TrainingData note).
    // NOTE (optimization round): folding the count into the scoring plan
    // via a broadcast scalar aggregate was tried and MEASURED SLOWER
    // (+0.09 s/query at sf0.1 — the BroadcastExchange job outweighs a
    // count() on the cached matches), so the explicit count stays.
    val matches = lazyMatches.persist()
    val dfp = matches.count()
    if (dfp == 0) { matches.unpersist(); return emptyScores(spark) }
    val p = cfg.params
    // same association as the term scorer (contributionCol), qtf = 1;
    // StrictMath.log matches Catalyst's log() used for the term idf
    val idf = StrictMath.log((corpus.docCount + 1.0) / (dfp + 1.0))
    matches
      .select($"docId",
        contributionCol(lit(1), lit(idf), $"tfp", $"dl", corpus.avgdl, p).as("score"))
      .orderBy($"score".desc, $"docId".asc)
      .limit(k)
  }

  /** Mixed quoted + free-term query — the search-box semantics for
    * `spark join "data stream"`: the quoted phrase is a FILTER (docs must
    * contain the exact adjacency), and ranking is full BM25 over ALL the
    * query's terms (phrase words included as regular terms). It is the
    * evaluator with one phrase constraint, checked per candidate doc.
    */
  def phraseFilterRank(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      termStats: Dataset[TermStat],
      corpus: CorpusStats,
      freeTerms: String,
      phrase: String,
      k: Int,
      cfg: IndexBuilder.Config = IndexBuilder.Config(),
      tombstones: TombstoneSet = TombstoneSet.empty
  ): DataFrame =
    termTopK(spark, blocks, termStats, corpus,
      termSpec("", ParsedQuery(Seq(freeTerms), Seq(phrase -> 0), Nil, Nil), 1, Map.empty, cfg),
      k, cfg, tombstones)

  /** The lazy (un-persisted) phrase match relation (docId, tfp, dl) —
    * exposed separately so plan-shape tests can assert on the actual scan
    * (term pushdown + positions column) before the persist hides it. None
    * when the analyzed phrase is empty.
    */
  private[graft] def phraseMatches(
      spark: SparkSession,
      blocks: Dataset[PostingBlock],
      phrase: String,
      cfg: IndexBuilder.Config,
      slop: Int = 0,
      tombstones: TombstoneSet = TombstoneSet.empty
  ): Option[DataFrame] = {
    import spark.implicits._
    val terms = Analyzer.tokenize(phrase, cfg.analyzer) // order + duplicates matter
    if (terms.isEmpty) return None
    val distinctTerms = terms.distinct
    val termsB = spark.sparkContext.broadcast(terms)
    val tsB = tombstones.broadcastVia(spark)
    val slop0 = slop
    val parts = math.max(1, math.min(cfg.numShards,
      spark.sparkContext.defaultParallelism))
    Some(blocks
      .filter($"term".isin(distinctTerms: _*))
      .repartition(parts, $"shardId")
      .sortWithinPartitions($"shardId", $"term", $"minDocId")
      .mapPartitions { it =>
        PhraseScorer.matchPartition(it.buffered, termsB.value, slop0, tsB.value)
      }
      .toDF("docId", "tfp", "dl"))
  }

  /** Positional phrase matching over one shard's blocks. */
  private[query] object PhraseScorer {

    private final class PosCursor(blocks: Array[PostingBlock],
        decode: PostingBlock => Array[Codec.P]) {
      private var bi = 0
      private var decoded: Array[Codec.P] = _
      private var poss: Array[Array[Int]] = _
      private var pi = 0
      var exhausted: Boolean = false
      loadBlock()

      private def loadBlock(): Unit = {
        decoded = decode(blocks(bi))
        poss = Codec.decodePositions(blocks(bi).positions, decoded.map(_.tf))
        pi = 0
      }

      def curDoc: Long = decoded(pi).docId
      def curPositions: Array[Int] = poss(pi)

      /** Skip to the first posting with docId >= target; whole blocks are
        * skipped on maxDocId metadata without decoding. */
      def advanceTo(target: Long): Unit = {
        if (exhausted) return
        if (blocks(bi).maxDocId < target) {
          var nb = bi + 1
          while (nb < blocks.length && blocks(nb).maxDocId < target) nb += 1
          bi = nb
          if (bi >= blocks.length) { exhausted = true; decoded = null; poss = null; return }
          loadBlock()
        }
        while (decoded(pi).docId < target) pi += 1 // maxDocId bound => terminates
      }
    }

    /** Rows must arrive sorted by (shardId, term, minDocId). Emits
      * (docId, phraseTf, dl) per matching live doc: the postings of the
      * shard's rarest phrase word are the candidates, checked by
      * [[matcher]]. Shard groups are consumed lazily, so a high-df phrase
      * holds at most one shard's blocks in memory.
      */
    def matchPartition(
        it: BufferedIterator[PostingBlock],
        terms: Seq[String],
        slop: Int = 0,
        tombstones: TombstoneSet = TombstoneSet.empty
    ): Iterator[(Long, Int, Int)] = {
      val distinctTerms = terms.distinct
      shardGroups(it).flatMap { byTerm =>
        // docId-sharding co-locates a doc's postings: a match needs
        // every distinct phrase term present in this shard
        if (!distinctTerms.forall(byTerm.contains)) Iterator.empty
        else {
          val decode = shardDecoder()
          val count = matcher(terms, slop, byTerm, decode)
          val rarest = distinctTerms.minBy(t => byTerm(t).iterator.map(_.n.toLong).sum)
          byTerm(rarest).iterator.flatMap(decode(_)).flatMap { p =>
            // tombstoned docs never match (they'd distort the phrase df)
            val tfp = if (tombstones.contains(p.docId)) 0 else count(p.docId)
            if (tfp > 0) Iterator.single((p.docId, tfp, p.dl)) else Iterator.empty
          }
        }
      }
    }

    /** The phrase check of one shard (`blocks`: minDocId-sorted per term,
      * holding every phrase word), for candidate docs offered in
      * increasing docId order: the phrase occurrence count of a doc, 0 when
      * it does not match. One positional cursor per distinct word, built
      * on the first candidate and advanced lazily to each later one;
      * [[phraseCount]] decides once every word's cursor lands on the doc.
      * A word whose blocks carry no positions fails at once, before any
      * candidate: a phrase never runs silently empty on a non-positional
      * index.
      */
    def matcher(terms: Seq[String], slop: Int, blocks: Map[String, Array[PostingBlock]],
        decode: PostingBlock => Array[Codec.P]): Long => Int = {
      val distinctTerms = terms.distinct
      if (distinctTerms.exists(t => blocks(t).exists(b => b.positions.isEmpty && b.sumTf > 0)))
        throw new IllegalStateException(
          "phrase query requires a positional index (build with storePositions = true)")
      lazy val cursors = distinctTerms.map(t => t -> new PosCursor(blocks(t), decode)).toMap
      doc =>
        if (cursors.valuesIterator.forall { c =>
              c.advanceTo(doc)
              !c.exhausted && c.curDoc == doc
            }) phraseCount(terms, cursors, slop)
        else 0
    }

    /** # of start positions with a valid occurrence: a strictly increasing
      * chain whose total span is <= (n-1)+slop, completed GREEDILY
      * (smallest position of term j strictly after the previous term's).
      * Greedy minimizes the final position, so a greedy miss proves no
      * chain exists for that start — and at slop = 0 the bound forces
      * every step to exactly 1, i.e. exact adjacency, so one loop serves
      * both semantics with no per-level array allocation.
      */
    private def phraseCount(terms: Seq[String], cursors: Map[String, PosCursor],
        slop: Int): Int = {
      val starts: Array[Int] = cursors(terms.head).curPositions
      if (terms.length == 1) return starts.length
      val bound = terms.length - 1 + slop
      var count = 0
      var s = 0
      while (s < starts.length) {
        val start = starts(s)
        var prev = start
        var ok = true
        var j = 1
        while (j < terms.length && ok) {
          val next = cursors(terms(j)).curPositions
          // smallest position strictly greater than prev
          val ins = java.util.Arrays.binarySearch(next, prev + 1)
          val idx = if (ins >= 0) ins else -ins - 1
          if (idx >= next.length) ok = false
          else { prev = next(idx); if (prev - start > bound) ok = false }
          j += 1
        }
        if (ok) count += 1
        s += 1
      }
      count
    }
  }

  /** The one per-shard query loop: document-at-a-time block-max WAND with
    * minimum-should-match and lazily checked exclusions and phrases, one
    * shard at a time within a partition.
    */
  private[query] object WandScorer {

    final class Cursor(val term: String, val weight: Double,
        blocks: Array[PostingBlock], k1: Double, b: Double, avgdl: Double,
        decodeFn: PostingBlock => Array[Codec.P] = b => Codec.decode(b.payload, b.n)) {
      // blocks are docId-sorted and non-overlapping within (shard, term).
      // Upper bounds derive from (maxTf, minDl) with the CURRENT corpus
      // avgdl: partial() is monotone up in tf, down in dl, so this bounds
      // every posting even after incremental appends moved avgdl.
      private def blockUb(i: Int): Double =
        weight * graft.index.IndexBuilder.partial(
          blocks(i).maxTf, blocks(i).minDl, k1, b, avgdl)
      val globalUb: Double = {
        var m = 0.0
        var i = 0
        while (i < blocks.length) { val u = blockUb(i); if (u > m) m = u; i += 1 }
        m
      }
      private var bi = 0
      private var decoded: Array[Codec.P] = decodeFn(blocks(0))
      private var pi = 0
      var exhausted: Boolean = false

      def curDoc: Long = decoded(pi).docId
      def curBlockUb: Double = blockUb(bi)

      def currentContribution(): Double =
        weight * Bm25.partial(decoded(pi).tf, decoded(pi).dl, k1, b, avgdl)

      def advance(): Unit = {
        pi += 1
        if (pi >= decoded.length) nextBlock()
      }

      /** Skip forward to the first posting with docId >= target. Whole
        * blocks are skipped on maxDocId metadata alone — only the landing
        * block is decoded.
        */
      def advanceTo(target: Long): Unit = {
        if (exhausted) return
        if (blocks(bi).maxDocId >= target) {
          // target lies in the current (already decoded) block
          while (decoded(pi).docId < target) pi += 1 // maxDocId bound => terminates
          return
        }
        var nb = bi + 1
        while (nb < blocks.length && blocks(nb).maxDocId < target) nb += 1
        bi = nb
        if (bi >= blocks.length) { exhausted = true; decoded = null; return }
        decoded = decodeFn(blocks(bi))
        pi = 0
        while (decoded(pi).docId < target) pi += 1
      }

      private def nextBlock(): Unit = {
        bi += 1
        if (bi >= blocks.length) { exhausted = true; decoded = null }
        else { decoded = decodeFn(blocks(bi)); pi = 0 }
      }
    }

    /** Rows must arrive sorted by (shardId, term, minDocId). Every query
      * is scored against each shard group while its blocks are at hand,
      * through the shard's decode memo, so a block shared by several
      * queries is decoded once. Output is lazy, one (shard, query) at a
      * time: an executor holds at most one shard's top-k of one query — with
      * k = Int.MaxValue (fielded queries) every match of that query in the
      * shard, bounded by the shard's doc count.
      */
    def scorePartition(
        it: BufferedIterator[PostingBlock],
        queries: Seq[(String, TermQuery)],
        k: Int,
        k1: Double, b: Double, avgdl: Double,
        tombstones: TombstoneSet = TombstoneSet.empty
    ): Iterator[(String, Long, Double)] =
      shardGroups(it).flatMap { byTerm =>
        val decode = shardDecoder()
        def cursor(term: String, weight: Double): Option[Cursor] =
          byTerm.get(term).map(new Cursor(term, weight, _, k1, b, avgdl, decode))
        queries.iterator.flatMap { case (qid, q) =>
          // q.should is term-sorted, which pins the ascending-term order
          // the cursors' contributions are summed in
          val should = q.should.flatMap(qt => cursor(qt.term, qt.weight)).toArray
          // docId-sharding co-locates a doc's postings: a shard holding
          // fewer than m of the SHOULD terms, or lacking a phrase word, has
          // no match
          if (should.length < q.m || !q.phrases.forall(_.terms.forall(byTerm.contains)))
            Iterator.empty
          else {
            val mustNot = q.mustNot.flatMap(cursor(_, 0.0)).toArray
            val phrases = q.phrases.map(ph => PhraseScorer.matcher(ph.terms, ph.slop, byTerm, decode))
            // pivot docs only grow, so the MUST_NOT and phrase cursors
            // advance lazily, and only for docs that would be scored
            def accept(doc: Long): Boolean =
              !tombstones.contains(doc) &&
                !mustNot.exists { c => c.advanceTo(doc); !c.exhausted && c.curDoc == doc } &&
                phrases.forall(_(doc) > 0)
            wandShard(should, q.m, accept, k).iterator.map { case (d, s) => (qid, d, s) }
          }
        }
      }

    /** Block-max WAND (Ding & Suel) generalized to minimum-should-match,
      * the way Lucene's WANDScorer handles minShouldMatch: the pivot is the
      * first cursor index i >= m-1 (cursors sorted by docId) whose prefix
      * sum of global upper bounds beats the threshold θ. A doc before the
      * pivot either sits under fewer than m cursors or cannot beat θ. Once
      * the pivot doc is reached by every cursor in front of it, the sum of
      * their *current-block* upper bounds must still beat θ, or the doc is
      * skipped without scoring. Only a doc that passes is offered to
      * `accept` (tombstones, MUST_NOT terms, phrases) and, if accepted,
      * scored.
      * θ respects the global tie-break (score desc, docId asc): within a
      * shard docIds only grow, so a candidate whose upper bound is <= θ can
      * never displace a heap entry.
      *
      * m = 1 with no exclusions is plain BMW; m = n is AND.
      */
    private def wandShard(cursors: Array[Cursor], m: Int, accept: Long => Boolean,
        k: Int): Seq[(Long, Double)] = {
      val heap = new TopKHeap(k)

      val live = scala.collection.mutable.ArrayBuffer(cursors.toIndexedSeq: _*)
      while (live.length >= m) {
        val sorted = live.sortBy(_.curDoc)
        val theta = heap.theta
        var acc = 0.0
        var pivotIdx = -1
        var i = 0
        while (i < sorted.length && pivotIdx < 0) {
          acc += sorted(i).globalUb
          if (i >= m - 1 && acc > theta) pivotIdx = i
          i += 1
        }
        if (pivotIdx < 0) {
          live.clear() // nothing remaining can beat theta
        } else {
          val pivotDoc = sorted(pivotIdx).curDoc
          // extend the pivot across docId ties: cursors beyond the first
          // index whose prefix UB beats theta can sit at pivotDoc too, and
          // the block-max bound below must cover EVERY cursor positioned at
          // pivotDoc or the skip branch silently drops a doc whose true
          // score (including the tied terms) exceeds theta (Ding & Suel's
          // BMW / Lucene pivot semantics)
          while (pivotIdx + 1 < sorted.length && sorted(pivotIdx + 1).curDoc == pivotDoc)
            pivotIdx += 1
          if (sorted.head.curDoc == pivotDoc) {
            // sorted(0..pivotIdx) all sit on pivotDoc: pivotIdx + 1 >= m
            // matches. A rejected doc is skipped exactly like a failed
            // block-max bound: never scored, never a heap slot
            val matching = sorted.take(pivotIdx + 1).toArray
            var blockAcc = 0.0
            var j = 0
            while (j < matching.length) { blockAcc += matching(j).curBlockUb; j += 1 }
            if (blockAcc > theta && accept(pivotDoc)) {
              // score pivotDoc exactly, ascending term order
              val byTerm = matching.sortBy(_.term)
              var score = 0.0
              var s = 0
              while (s < byTerm.length) { score += byTerm(s).currentContribution(); s += 1 }
              heap.offer(pivotDoc, score)
            }
            matching.foreach(_.advance())
          } else {
            // advance a lagging cursor. It MUST be one with curDoc strictly
            // below the pivot (cursors at indices < pivotIdx can already sit
            // AT pivotDoc when docIds tie) — advancing a cursor already at
            // pivotDoc is a no-op and would loop forever. Among the strict
            // predecessors, pick the largest upper bound (advances fastest).
            var limit = 0
            while (limit < pivotIdx && sorted(limit).curDoc < pivotDoc) limit += 1
            var best = 0
            var j = 1
            while (j < limit) {
              if (sorted(j).globalUb > sorted(best).globalUb) best = j
              j += 1
            }
            sorted(best).advanceTo(pivotDoc)
          }
          var li = live.length - 1
          while (li >= 0) { if (live(li).exhausted) live.remove(li); li -= 1 }
        }
      }
      heap.drain()
    }
  }
}
