package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generator determinism check: the same seed gives an identical row
  * digest (and query pool), a different seed a different digest. Exits 0
  * when every check holds, 1 otherwise. Run by perfbench/test_generator.py.
  *
  *   GenCheck <seed> <other seed> <work dir> */
object GenCheck {
  /** Order-independent digest of a relation's rows: (count, xor of row
    * hashes). */
  private def digestOf(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val Array(a, b, work) = args
    val (seed, other) = (a.toLong, b.toLong)
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-gencheck")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failures = try {
      def digest(s: Long, partitions: Int) = digestOf(Gen.turns(spark, s, 0, 200, partitions).toDF())
      // user and assistant turns hold no planted passage: only the seeded
      // token draws make them
      def words(s: Long) = digestOf(Gen.turns(spark, s, 0, 200, 2).toDF()
        .filter(col("role").isin("user", "assistant")).select("text"))
      val first = digest(seed, 2)
      val sample = Gen.turns(spark, seed, 0, 200, 2).collect().map(_.text).toSeq
      Seq(
        "same seed, same digest" -> (digest(seed, 2) == first),
        "same seed, other partitioning, same digest" -> (digest(seed, 3) == first),
        "other seed, other digest" -> (digest(other, 2) != first),
        "other seed, other words" -> (words(other) != words(seed)),
        "rows were generated" -> (first._1 > 200),
        "same seed, same query pool" ->
          (Queries.pool(seed, 64, sample, positional = true) == Queries.pool(seed, 64, sample, positional = true)),
        "vocabulary has distinct words" -> (Gen.vocab.distinct.length == Gen.VocabSize)
      ).collect { case (what, false) => what }
    } finally spark.stop()
    failures.foreach(f => System.err.println(s"GenCheck failed: $f"))
    println(s"GenCheck: ${if (failures.isEmpty) "ok" else s"${failures.size} failed"}")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
