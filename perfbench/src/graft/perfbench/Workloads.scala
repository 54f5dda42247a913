package graft.perfbench

/** The three benchmark workloads and the rule that splits the bench
  * registry between them. Every name is assigned explicitly, by an
  * exact name or by one prefix; exact names win over prefixes. A name
  * that matches nothing, or more than one prefix, fails the run, so a
  * newly registered query cannot escape the benchmark.
  *
  * A run times a fixed mix of its workload. Each mix was chosen from a
  * traced pass over the whole workload (perfbench/profile.csv): one
  * query per latency stratum, plus the queries named in the comment,
  * picked so that the mix's build share, jobs per query and latency
  * quantiles stay close to the workload's within the run's time
  * budget (README.md gives both sets of figures).
  */
object Workloads {
  final case class Workload(name: String, exact: Set[String], prefixes: Seq[String],
      mix: Seq[String]) {
    def matches(q: String): Boolean = prefixes.exists(q.startsWith)
  }

  private val tpch = (1 to 22).map(i => f"q$i%02d_")

  val all: Seq[Workload] = Seq(
    // the analyst's read-only query surface: TPC-H, relational
    // features, ClickHouse functions and engines, streaming, data quality
    Workload("olap_read", Set.empty, tpch ++ Seq("q_", "ch_", "f_", "stream_", "dq_"),
      Seq("ch_final_write", "ch_group_concat", "ch_moving_sum", "ch_replacing_mt",
        "ch_with_fill", "f_json2", "f_url", "q09_profit_by_nation_year",
        "q11_important_parts", "q_offset", "q_range_join", "q_window_running")),
    // the destination write path: sources, sinks, materialized views
    Workload("lake_write", Set.empty, Seq("src_", "sink_", "mv_"),
      Seq("sink_dynamic_overwrite", "sink_upsert", "src_bucket_pruning",
        "src_delta_dv_compact", "src_orc", "src_schema_evolution")),
    // the LLM-data pipeline plus the iterative operators; the mix
    // always holds q_recursive_cte and a graph_* query
    Workload("llm_iterative", Set("q_recursive_cte"),
      Seq("graph_", "txt_", "dedup_", "ann_", "emb_", "mm_", "pipeline_"),
      Seq("dedup_embedding_ivf", "emb_centroid", "graph_triangles", "mm_binary_schema",
        "q_recursive_cte", "txt_mixture_sample", "txt_quality")))

  /** Workload of every registry name; throws unless the workloads
    * split `names` exactly. */
  def assign(names: Iterable[String]): Map[String, String] =
    names.map { q =>
      val exact = all.filter(_.exact(q))
      val owners = if (exact.nonEmpty) exact else all.filter(_.matches(q))
      require(owners.size == 1,
        if (owners.isEmpty) s"coverage: bench query '$q' belongs to no workload"
        else s"coverage: bench query '$q' matches ${owners.map(_.name).mkString(" and ")}")
      q -> owners.head.name
    }.toMap

  /** The timed mix of `workload`, in sorted name order; throws unless
    * each of its queries is a bench query of that workload. */
  def mix(assigned: Map[String, String], workload: String): Seq[String] = {
    val w = all.find(_.name == workload)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload '$workload'"))
    for (q <- w.mix)
      require(assigned.get(q).contains(workload), s"mix: '$q' is not a bench query of $workload")
    w.mix.sorted
  }
}
