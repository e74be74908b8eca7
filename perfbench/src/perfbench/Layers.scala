package perfbench

import graft.index.IndexStore

/** The metric catalog (names and units; BENCHMARK.json adds directions and
  * bounds). Every run of every workload prints every metric of its kind; a
  * layer the workload never exercises reads 0. */
object Layers {
  final case class Def(name: String, unit: String)

  val endToEnd: Seq[Def] = Seq(
    Def("setup_s", "s"),
    Def("op_p50_s", "s"),
    Def("units_per_s", "1/s"))

  val QueryScopes: Seq[String] = Queries.Classes :+ "batch"
  val CommitScopes = Seq("build", "append", "delete", "compact")

  val perLayer: Seq[Def] = {
    def s(n: String) = Def(n, "s")
    Seq(
      Def("analyzer.tokens_per_s", "1/s"),
      Def("codec.encode_postings_per_s", "1/s"),
      Def("codec.decode_postings_per_s", "1/s"),
      s("build.rel_s"), s("build.encode_s"), s("build.commit_s"), s("build.aux_write_s"),
      Def("build.bytes_per_posting", "B"),
      Def("build.skew_ratio", "ratio"),
      s("store.load_s"), s("store.append_s"), s("store.delete_s"), s("store.compact_s"),
      Def("tombstones.live", "count"),
      s("query.parse_s"), s("query.plan_s"), s("query.exec_s")) ++
      Queries.Classes.map(c => s(s"query.$c.p50_s")) ++
      Seq(
        s("dedup.minhash_s"), s("dedup.simhash_s"), s("dedup.cluster_s"), s("dedup.keepset_s"),
        s("ann.cosine_pairs_s"), s("ann.ivfpq_s"),
        Def("dedup.verified_over_candidate_pairs", "ratio"),
        Def("spark.jobs_per_op", "count"),
        Def("spark.stages_per_op", "count"),
        Def("spark.tasks_per_op", "count"),
        Def("spark.input_bytes_per_op", "B"),
        Def("spark.shuffle_read_bytes_per_op", "B"),
        Def("spark.shuffle_write_bytes_per_op", "B"),
        Def("spark.spill_bytes_per_op", "B"),
        s("spark.scheduler_delay_s"),
        s("spark.task_time_s_per_op")) ++
      scopes.flatMap { case (scope, fields) => fields.map(f => Def(s"spark.$scope.$f",
        if (f.endsWith("_s") || f.endsWith("_s_per_op")) "s" else if (f.contains("bytes")) "B" else "count"))
      } :+
      Def("trace.overhead_ratio", "ratio")
  }

  /** Spark counters broken down per query class, commit kind and sweep
    * step. */
  lazy val scopes: Seq[(String, Seq[String])] =
    QueryScopes.map(_ -> Seq("jobs_per_op", "tasks_per_op", "scheduler_delay_s", "shuffle_bytes_per_op")) ++
      (CommitScopes ++ Dedup.Steps).map(_ ->
        Seq("jobs_per_op", "task_time_s_per_op", "shuffle_bytes_per_op", "spill_bytes_per_op"))

  /** Query-layer metrics of a traced window: parse / plan / exec medians
    * and the window's per-class medians. */
  def queries(tr: Tracer, w: Window): Seq[(String, Metric)] =
    Seq("parse", "plan", "exec").map(p =>
      s"query.${p}_s" -> Metric(tr.median(s"query.$p", Queries.Classes.contains), "s")) ++
      w.classMedians

  /** Build-phase metrics from the manifest of a `build` result. */
  def build(b: IndexStore.BuildResult): Seq[(String, Metric)] = {
    val m = b.manifest.metrics
    def g(k: String) = m.getOrElse(k, 0.0)
    Seq(
      "build.rel_s" -> Metric(g("relSec"), "s"),
      "build.encode_s" -> Metric(g("encodeSec"), "s"),
      "build.commit_s" -> Metric(g("commitSec"), "s"),
      "build.aux_write_s" -> Metric(g("auxWriteSec"), "s"),
      "build.bytes_per_posting" -> Metric(g("bytesCompressed") / math.max(1.0, g("postings")), "B"),
      "build.skew_ratio" -> Metric(g("skewRatio"), "ratio"))
  }

  /** `got` in catalog order, zero-filled; refuses names outside it. */
  def complete(catalog: Seq[Def], got: Seq[(String, Metric)]): Seq[(String, Metric)] = {
    val m = got.toMap
    val unknown = m.keySet -- catalog.map(_.name)
    require(unknown.isEmpty, s"metrics outside the catalog: ${unknown.mkString(", ")}")
    catalog.map(d => d.name -> Metric(m.get(d.name).fold(0.0)(_.value), d.unit))
  }
}
