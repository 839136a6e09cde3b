package perfbench

/** The metric names and units the benchmark prints. `BENCHMARK.json`
  * at the repository root declares the same lists; MetricsSpec keeps
  * the two equal. */
object Metrics {

  /** Printed by an untraced run (`--trace 0`), for every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "build_triples_per_s" -> "triples/s",
    "resume_noop_s" -> "s",
    "analytics_s" -> "s",
    "store_bytes_per_triple" -> "B",
    "ingest_p50_ms" -> "ms",
    "lookup_p50_ms" -> "ms")

  private def layer(prefix: String, ms: (String, String)*): Seq[(String, String)] =
    ms.map { case (n, u) => s"$prefix.$n" -> u }

  /** Printed by a traced run (`--trace 1`), for every workload. `.ms`
    * is self time summed over every entry into the layer. */
  val PerLayer: Seq[(String, String)] =
    layer("stages.gazetteer", "ms" -> "ms", "jobs" -> "count", "input_bytes" -> "B") ++
    layer("corpus.explode", "ms" -> "ms", "rows_out" -> "count", "input_bytes" -> "B",
      "core_util" -> "ratio") ++
    layer("functions.ac", "ms" -> "ms", "mb_per_s_per_core" -> "MB/s", "rows_out" -> "count",
      "mentions_per_kb" -> "1/KB") ++
    layer("engine.candidates", "ms" -> "ms", "rows_out" -> "count", "fanout" -> "ratio") ++
    layer("engine.links", "ms" -> "ms", "rows_out" -> "count", "exchanges" -> "count",
      "shuffle_write_bytes" -> "B", "task_skew" -> "ratio") ++
    layer("cc", "ms" -> "ms", "jobs" -> "count", "rows_out" -> "count") ++
    layer("engine.triples", "ms" -> "ms", "rows_in" -> "count", "rows_out" -> "count",
      "dedup_ratio" -> "ratio", "exchanges" -> "count", "shuffle_write_bytes" -> "B",
      "spill_bytes" -> "B", "task_skew" -> "ratio") ++
    Seq("mentions", "links", "canonical", "triples").flatMap(s =>
      layer(s"store.commit.$s", "ms" -> "ms", "bytes_written" -> "B", "files" -> "count")) ++
    layer("store.markers", "ms" -> "ms", "manifests" -> "count") ++
    layer("store.read", "ms" -> "ms", "snapshots" -> "count", "files_scanned" -> "count") ++
    Seq("degrees", "comention", "pagerank").flatMap(k =>
      layer(s"graph.$k", "ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
        "shuffle_write_bytes" -> "B")) ++
    layer("streaming.batch", "ms" -> "ms", "jobs" -> "count") ++
    layer("spark", "jobs" -> "count", "tasks" -> "count", "cpu_ms" -> "ms", "gc_ms" -> "ms") ++
    layer("trace", "overhead_ms" -> "ms", "reconcile_ratio" -> "ratio")

  /** The result line: exactly the declared metrics, in declared order. */
  def json(correct: Boolean, attempted: Long, failed: Long,
           declared: Seq[(String, String)], values: Map[String, Double]): String = {
    val missing = declared.map(_._1).filterNot(values.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val extra = values.keySet -- declared.map(_._1)
    require(extra.isEmpty, s"metrics not declared: ${extra.mkString(", ")}")
    val ms = declared.map { case (n, u) =>
      val v = values(n)
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n":{"value":${java.lang.Double.toString(v)},"unit":"$u"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}
