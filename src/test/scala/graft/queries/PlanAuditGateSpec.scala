package graft.queries

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.expressions.Explode
import org.apache.spark.sql.execution.{GenerateExec, LocalTableScanExec, RDDScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.kg.{GraphAnalytics, Stages}

/** The plan audit as a regression GATE, not a dump (VERDICT r5 #6):
  * the named expectations in [[PlanAuditGateSpec.Audited]]'s comments,
  * asserted programmatically per audited key — a future plan
  * regression fails a test instead of needing a human to re-read a
  * dumped plan. Several audited keys already have dedicated guards in
  * [[PlanPropertiesSpec]] (pushdown, pruning, broadcast, topk,
  * vec_ivf_cell, salted shuffle, survivors' broadcast-only corpus
  * joins) — this spec covers the REST of the audited list, and the
  * completeness test at the bottom fails if a key is added to
  * `Audited` without a predicate in either spec. */
class PlanAuditGateSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private def executed(key: String): SparkPlan =
    graft.SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan

  private def shuffles(p: SparkPlan): Int =
    collect(p) { case s: ShuffleExchangeExec => s }.size

  /** How many nodes of class `T` `p` holds, AQE query stages and
    * subquery plans included (the parts `p.toString` prints). */
  private def nodes[T <: SparkPlan](p: SparkPlan)(implicit t: ClassTag[T]): Int =
    collectWithSubqueries(p) { case n if t.runtimeClass.isInstance(n) => n }.size

  private def count(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  test("agg_hash: partial (map-side) + final hash aggregation, one exchange") {
    // WholeStageCodegen markers only appear on executed adaptive plans,
    // so the gate asserts the structural property: a partial_ aggregate
    // BELOW the exchange (map-side combine) and the final one above.
    val p = executed("agg_hash")
    assert(nodes[HashAggregateExec](p) >= 2, p.treeString.take(900))
    assert(p.toString.contains("partial_sum"), p.treeString.take(900))
    assert(nodes[Exchange](p) == 1, p.treeString.take(900))
  }

  test("kg_mentions: Aho–Corasick Generate over the scan, ZERO exchanges") {
    val p = executed("kg_mentions")
    assert(p.toString.contains("gazetteer_match_counts"), p.toString.take(900))
    assert(shuffles(p) == 0,
      "the zero-shuffle mention stage regressed:\n" + p.treeString.take(1200))
  }

  test("kg_links: one broadcast candidate-list join, in-row argmax, ZERO shuffles") {
    val p = executed("kg_links")
    assert(shuffles(p) == 0, "link scoring shuffles again:\n" + p.treeString.take(1500))
    assert(collect(p) { case j: BroadcastHashJoinExec => j }.size == 1, p.treeString.take(1500))
  }

  test("ann_bruteforce: 1-row query broadcast + TakeOrderedAndProject") {
    val p = executed("ann_bruteforce")
    assert(nodes[BroadcastExchangeExec](p) > 0, p.treeString.take(900))
    assert(nodes[TakeOrderedAndProjectExec](p) > 0, p.treeString.take(900))
  }

  test("ann_lsh_batch: bucket equi-join + window rank, no cartesian") {
    val p = executed("ann_lsh_batch")
    assert(p.toString.contains("vec_lsh_bucket"), p.treeString.take(900))
    assert(nodes[CartesianProductExec](p) == 0, p.treeString.take(1200))
    assert(nodes[WindowExec](p) > 0, p.treeString.take(900))
  }

  test("ann_lsh_probe: query-side probe explode, still an equi-join") {
    val p = executed("ann_lsh_probe")
    assert(collectWithSubqueries(p) {
      case g: GenerateExec if g.generator.isInstanceOf[Explode] => g }.nonEmpty, p.treeString.take(1200))
    assert(nodes[CartesianProductExec](p) == 0, p.treeString.take(1200))
  }

  test("ann_recall: bucketed approx side present (exact side is the documented sample cross)") {
    val p = executed("ann_recall")
    assert(p.toString.contains("vec_lsh_bucket"), p.treeString.take(1200))
  }

  test("ann_ivf_probe: query-side vec_ivf_probes explode, one cell equi-join") {
    val p = executed("ann_ivf_probe")
    assert(p.toString.contains("vec_ivf_probes"), p.treeString.take(1200))
    assert(nodes[CartesianProductExec](p) == 0, p.treeString.take(1200))
  }

  test("dedup pair stages: band/table equi-joins, never a cartesian product") {
    for (k <- Seq("dedup_minhash_pairs", "dedup_simhash_pairs")) {
      val p = executed(k)
      assert(nodes[CartesianProductExec](p) == 0 && nodes[BroadcastNestedLoopJoinExec](p) == 0,
        s"$k pair join degenerated:\n" + p.treeString.take(1200))
    }
  }

  test("kg_triples: ONE corpus scan, broadcast canon join, no media join") {
    val p = executed("kg_triples")
    // the corpus parquet is scanned exactly once (single-scan DAG, r3);
    // dictionary frames are local relations since r6, so documents.parquet
    // is the only file scan left in the whole plan
    assert(count(p.toString, "documents\\.parquet") == 1, p.treeString.take(1500))
    assert(nodes[BroadcastHashJoinExec](p) > 0, p.treeString.take(900))
  }

  test("graph_pagerank: dictionary-sized graph ranks on the driver, zero shuffles") {
    val p = graft.SparkEntry.queries("graph_pagerank")(spark, sf).queryExecution.executedPlan
    assert(collect(p) { case s: LocalTableScanExec => s }.nonEmpty, p.treeString)
    assert(collect(p) { case s: ShuffleExchangeExec => s }.isEmpty, p.treeString)
  }

  test("graph_pagerank: ranks read from the round-truncated checkpoint") {
    // forced distributed (localThreshold = 0): the returned frame is built
    // on the materialized round — an RDD scan, not a re-derivation of the
    // whole iterative lineage
    val edges = GraphAnalytics.comentionTopK(
      Stages.triples(spark, sf).where(col("pred") === "mentionedIn"))
    val p = GraphAnalytics.pagerankInt(edges, localThreshold = 0).queryExecution.executedPlan
    assert(collect(p) { case s: RDDScanExec => s }.nonEmpty, p.treeString.take(1500))
  }

  test("graph_triangles: mutual-edge cache reused across the enumeration legs") {
    val p = executed("graph_triangles")
    val scans = collect(p) { case s: InMemoryTableScanExec => s }.size
    assert(scans >= 3, p.treeString.take(1500))
  }

  test("text_langid: in-row counts + in-row argmax — zero exchanges (r6)") {
    val p = executed("text_langid")
    assert(shuffles(p) == 0, "langid shuffles again:\n" + p.treeString.take(1200))
  }

  test("every audited key has a plan predicate in this spec or PlanPropertiesSpec") {
    val here = Set("agg_hash", "kg_mentions", "kg_links", "ann_bruteforce", "ann_lsh_batch",
      "ann_lsh_probe", "ann_recall", "ann_ivf_probe", "dedup_minhash_pairs",
      "dedup_simhash_pairs", "kg_triples", "graph_pagerank", "graph_triangles")
    val inPlanProperties = Set("filter_pred", "project", "join_broadcast",
      "join_salted", "ann_ivf", "dedup_survivors", "topk")
    val inGraphAnalyticsSpec = Set("graph_comention") // no-pair-self-join guard
    val covered = here ++ inPlanProperties ++ inGraphAnalyticsSpec
    val missing = PlanAuditGateSpec.Audited.filterNot(covered)
    assert(missing.isEmpty,
      s"audited keys without a plan-gate predicate: ${missing.mkString(", ")}")
  }
}

object PlanAuditGateSpec {
  /** The audited operator keys, each with the physical plan it should
    * have. */
  val Audited: Seq[String] = Seq(
    "filter_pred",     // expect PushedFilters at the parquet scan
    "project",         // expect pruned ReadSchema (3 cols of 11)
    "join_broadcast",  // expect BroadcastHashJoin, no shuffle on fact side
    "join_salted",     // expect the salted key in the shuffle
    "agg_hash",        // expect partial+final HashAggregate, WSCG spans
    "kg_mentions",     // expect Generate(posexplode) inside the scan stage
    "kg_links",        // expect ONE broadcast candidate-list join, in-row argmax, no shuffle
    "ann_bruteforce",  // expect broadcast of the 1-row query side
    "ann_lsh_batch",   // expect ONE equi-join on bucket + window rank
    "dedup_minhash_pairs", // expect band equi-join, no cartesian
    "dedup_simhash_pairs", // expect multi-table key equi-join, no cartesian
    "ann_lsh_probe",   // expect probe-side explode, still ONE equi-join
    "ann_recall",      // expect bucketed approx side + (query-sample × corpus) exact side
    "ann_ivf",         // expect cell equi-join against broadcast 1-row query, top-k,
                       //   vec_ivf_cell assignment (codegen, broadcast centroids — r5)
    "ann_ivf_probe",   // expect query-side explode of vec_ivf_probes, ONE cell equi-join
    "dedup_survivors", // expect corpus-side broadcast anti/left joins vs dup-graph tables (r5)
    "kg_triples",      // expect broadcast canon join, ONE corpus scan, NO media join (r4)
    "graph_comention", // expect two-level in-row pair explode + window over the
                       //   memoized triple table — no pair SELF-join (the canon
                       //   broadcast join belongs to the triple chain and is
                       //   expected; ADVICE r5)
    "graph_pagerank",  // expect a LocalTableScan and no shuffle: the dictionary-sized
                       //   graph ranks on the driver; forced distributed, ranks read
                       //   from the round-truncated checkpoint (RDDScan)
    "graph_triangles", // expect InMemory mutual-edge reuse on all three legs (r5)
    "topk")            // expect TakeOrderedAndProject, not global sort
}
