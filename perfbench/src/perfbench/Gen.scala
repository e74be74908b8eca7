package perfbench

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Analyzer
import graft.model.Turn

/** Seeded input generator. Every row is computed by Spark expressions from
  * (seed, row id) on the executors; only the vocabulary and the planted
  * passages are built up front, as small constants. The same seed gives the
  * same rows.
  *
  * Transcripts: conversations of 2–40 turns; short user turns, medium
  * assistant turns, long heavy-tailed tool turns; tokens drawn from a
  * Zipf(1) vocabulary; planted repeated passages (boilerplate system prompts
  * and pasted tool output). The corpus shape — turns per conversation,
  * roles, turn lengths — is the same for every seed, so runs of different
  * seeds do the same amount of work; the seed draws the words and which
  * passages repeat. */
object Gen {

  val VocabSize = 30000
  val Passages = 48

  private val Consonants = "bdfgklmnprstvz"
  private val Vowels = "aeiou"
  private val Syllables: IndexedSeq[String] =
    (for (c <- Consonants; v <- Vowels) yield s"$c$v").take(64)

  /** Zipf rank order: the first [[VocabSize]] three-syllable words that the
    * engine's analyzer keeps (no stopwords). */
  lazy val vocab: Array[String] = Iterator.from(0)
    .map(r => Syllables(r % 64) + Syllables((r / 64) % 64) + Syllables((r / 4096) % 64))
    .filterNot(Analyzer.englishStopwords.contains)
    .take(VocabSize).toArray

  private val Unit24 = (1 << 24).toDouble
  /** Seed of the corpus shape, fixed across runs. */
  private val Shape = 0L

  /** Uniform in [0, 1) from the seed, a salt and row columns. */
  def u(seed: Long, salt: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(1L << 24)).cast("double") / Unit24

  /** Zipf(1) rank in [0, VocabSize): log-uniform over 1..VocabSize. */
  def rank(uc: Column): Column =
    least(lit(VocabSize - 1), (exp(uc * math.log(VocabSize.toDouble)) - 1).cast("int"))

  /** Scala twin of [[rank]] for query terms and passages. */
  def rank(uv: Double): Int =
    math.min(VocabSize - 1, (math.exp(uv * math.log(VocabSize.toDouble)) - 1).toInt)

  private def words: Column = typedLit(vocab)

  private def tokens(len: Column, seed: Long, salt: Int, key: Column*): Column =
    concat_ws(" ", transform(sequence(lit(1), greatest(len, lit(1))), i =>
      element_at(words, rank(u(seed, salt, (key :+ i): _*)) + 1)))

  /** Planted passages: boilerplate system prompts and pasted tool output,
    * 30–120 tokens each. */
  def passages(seed: Long): Array[String] = {
    val rnd = new scala.util.Random(seed * 7919 + 17)
    Array.fill(Passages) {
      Array.fill(30 + rnd.nextInt(91))(vocab(rank(rnd.nextDouble()))).mkString(" ")
    }
  }

  val EmbeddingDims = 64

  /** Seeded [[EmbeddingDims]]-dimensional embeddings of (doc_id, text)
    * rows, as (vec_id = doc_id - `firstId`, embedding) with components
    * uniform in [-1, 1) drawn from the seed and the text: identical texts
    * get identical vectors, so planted duplicates are embedding duplicates
    * too. */
  def embeddings(docs: DataFrame, seed: Long, firstId: Long): DataFrame =
    docs.select((col("doc_id") - firstId).as("vec_id"),
      transform(sequence(lit(1), lit(EmbeddingDims)), i => u(seed, 9, col("text"), i) * 2.0 - 1.0)
        .as("embedding"))

  /** Conversations [convStart, convStart + nConvs) as turns. */
  def turns(spark: SparkSession, seed: Long, convStart: Long, nConvs: Long,
      partitions: Int): Dataset[Turn] = {
    import spark.implicits._
    val cid = col("cid")
    val ti = col("turn_idx")
    val pass = typedLit(passages(seed))
    val pickPassage = element_at(pass,
      (pow(u(seed, 7, cid, ti), 2.0) * Passages).cast("int") + 1)
    val u3 = u(Shape, 3, cid, ti)
    val u4 = u(Shape, 4, cid, ti)
    val role =
      when(ti === 0 && u(Shape, 2, cid) < 0.5, "system")
        .when(u3 < 0.4, "user").when(u3 < 0.8, "assistant").otherwise("tool")
    val len = when(col("role") === "user", lit(4) + (u4 * 16).cast("int"))
      .when(col("role") === "assistant", lit(16) + (u4 * 64).cast("int"))
      // Pareto(1.2) tail: median ~21 tokens, capped at 600
      .otherwise(least(lit(600), (lit(12.0) * pow(lit(1.0) - u4, -1.0 / 1.2)).cast("int")))
    val body = tokens(col("len"), seed, 5, cid, ti)
    val text = when(col("role") === "system", pickPassage)
      .when(col("role") === "tool" && u(Shape, 6, cid, ti) < 0.3,
        concat(pickPassage, lit(" "), body))
      .otherwise(body)
    spark.range(convStart, convStart + nConvs, 1, partitions)
      .select(col("id").as("cid"),
        (lit(2) + (pow(u(Shape, 1, col("id")), 2.0) * 39).cast("int")).as("nt"))
      .select(cid, explode(sequence(lit(0), col("nt") - 1)).as("turn_idx"))
      .withColumn("role", role)
      .withColumn("len", len)
      .select(
        format_string("conv-%09d", cid).as("conv_id"),
        ti.as("turn_idx"),
        col("role"),
        text.as("text"),
        when(col("role") === "tool", element_at(
          array(lit("shell"), lit("python"), lit("browser"), lit("search")),
          (u(seed, 8, cid, ti) * 4).cast("int") + 1)).otherwise(lit("")).as("tool"),
        expr("timestampadd(SECOND, cid * 64 + turn_idx, TIMESTAMP '2026-01-01 00:00:00')")
          .as("ts"))
      .as[Turn]
  }
}
