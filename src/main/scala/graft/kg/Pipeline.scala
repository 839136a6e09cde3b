package graft.kg

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Model
import graft.sources.SnapshotStore

/** Production DAG entry point (SURVEY.md §3.1, BASELINE.json
  * north_rule): `spark-submit --class graft.kg.Pipeline <jar> <sfDir>
  * <outDir>` runs mention-detect → candidate-generate → link-score →
  * canonicalize → triple-emit with per-partition snapshot checkpoints.
  *
  * Resume model: the corpus is hash-bucketed on doc_id; the expensive
  * scan stage (mention detection) records one snapshot manifest PER
  * BUCKET with an idempotence marker, but all missing buckets are
  * computed and written in ONE job (`SnapshotStore.commitBuckets`,
  * `partitionBy("bucket")`) — a fresh run scans the corpus exactly
  * once, and a resume scans it once filtered to the missing buckets
  * (the committed-marker anti-join happens driver-side on the
  * O(buckets) marker list, never against the corpus). Downstream
  * stages are dictionary-sized or aggregate-sized and re-derive
  * cheaply, each behind its own marker.
  *
  * A resume does only the missing work: one marker listing per run
  * decides every stage, the gazetteer is derived only when a stage that
  * consumes it (mentions, links, canonical) is missing, and a committed
  * stage is read back only when a missing stage downstream needs it.
  * Snapshot reads take their schema from the manifest, so a no-op
  * resume starts no Spark job. A concurrent writer stays safe: commit
  * re-checks its marker under the store's lock.
  *
  * `bucketsPerScan` is the retry-unit knob: at the 10^12-doc design
  * point you bound how much work one commit can lose by processing
  * the missing buckets in groups (each group = one filtered scan +
  * one atomic multi-bucket commit). The default (= NumBuckets) is the
  * single-scan fast path; NumBuckets itself scales with the cluster
  * (≈ executor-hours per retry unit). No driver-side state grows with
  * corpus size except the manifest list.
  */
object Pipeline {

  val NumBuckets = 8

  /** `corpusPath`: read the interleaved corpus from its own nested
    * parquet table (the production shape per the input hint) instead
    * of deriving it from the flat fixture — PipelineSpec uses this to
    * prove the whole DAG scans the corpus file exactly once. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          bucketsPerScan: Int = NumBuckets,
          corpusPath: Option[String] = None): SnapshotStore = {
    val store = SnapshotStore.forRoot(outDir)
    val done = store.markers()
    def corpus(): DataFrame =
      corpusPath.map(spark.read.parquet(_)).getOrElse(Corpus.docs(spark, sfDir))

    lazy val gazSeq = Stages.gazetteer(spark, sfDir)
      .select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))

    // Stage 1: the ONE corpus-wide scan of the whole DAG — mention
    // rows CARRYING their in-row media adjacency (explodeSpansAdj +
    // carry), in one job for all missing buckets (grouped by the
    // retry-unit knob). The depictedIn inputs ride these rows, so no
    // media frame is ever materialized and the triple stage performs
    // no media join (r4; previously the stage emitted separate media
    // records and the triple stage shuffle-joined them back).
    val carry = Seq(Engine.AdjMedia)
    def bucketOf(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(NumBuckets)).cast("int")
    val missing = (0 until NumBuckets)
      .filterNot(b => done.contains(s"mentions-bucket-$b"))
    missing.grouped(math.max(1, bucketsPerScan)).foreach { group =>
      val docs = corpus().where(bucketOf(col("doc_id")).isin(group: _*))
      val m = Engine.mentions(Corpus.explodeSpansAdj(docs), gazSeq, carry)
        .withColumn("bucket", bucketOf(col("doc_id")))
      store.commitBuckets(m, stage = "mentions", bucketCol = "bucket",
        buckets = group, markerFor = b => s"mentions-bucket-$b",
        statsCol = Some("doc_id")) // per-bucket source doc_id ranges in lineage
    }

    // Stage 2+3: candidates + link scoring (one broadcast candidate-list
    // lookup per mention, argmax in-row — no shuffle); adjacency threads
    // through both so the triple stage needs only this snapshot.
    if (!done.contains("links")) {
      val mentions = store.read(spark, stage = Some("mentions"))
        .select(col("doc_id"), col("span_idx"), col("surface"),
          col("coarse_type"), col("n_occ"), col(Engine.AdjMedia))
      // anchorDictLocal: the gazetteer seq collected above serves the
      // dictionary too — no second gazetteer job (r6)
      val links = Engine.links(
        Engine.candidates(mentions,
          Stages.anchorDictLocal(spark, gazSeq.map(_._1)), carry),
        Stages.scoreBoost, carry)
      // No shuffle precedes this write, so AQE no longer sizes its
      // output: merge the mention read's splits down to the partition
      // size AQE coalesces a shuffle to, or a small store carries one
      // links file per split. Larger inputs keep their splits.
      val advisory = JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
      val parts = (mentions.queryExecution.optimizedPlan.stats.sizeInBytes / advisory + 1)
        .min(Int.MaxValue).toInt
      store.commit(links.coalesce(parts), stage = "links", marker = "links")
    }

    // Stage 4: canonicalization (CC over the alias graph).
    if (!done.contains("canonical")) {
      store.commit(Engine.canonical(
        Stages.aliasEdgesLocal(spark, gazSeq.map(_._1))),
        stage = "canonical", marker = "canonical")
    }

    // Stage 5: triple emit, partitioned by predicate for pruned reads.
    // The canonical map's exact row count is free from its snapshot
    // manifest — it size-gates the broadcast inside Engine.triples.
    // depictedIn inputs ride the link rows (adj_media) — neither the
    // corpus nor the mention snapshot is touched again.
    if (!done.contains("triples")) {
      // liveManifests: after a compaction of the canonical stage the
      // raw list would double-count rows and mis-gate the broadcast
      val canonRows = store.liveManifests()
        .filter(_.stage == "canonical").map(_.rows).sum
      val triples = Engine.triples(store.read(spark, stage = Some("links")),
        store.read(spark, stage = Some("canonical")), Some(canonRows))
      store.commit(triples, stage = "triples", marker = "triples",
        partitionBy = Seq("pred"))
    }
    store
  }

  /** Optional stage 6: graph analytics over the COMMITTED triple table
    * ([[GraphAnalytics]]), materialized as INCREMENTALLY MAINTAINED
    * derived stages. Each analytics commit is versioned by the
    * UPSTREAM state it derives from (marker = `<stage>-upto-<latest
    * live triples snapshot id>`) and `replaces` the previous
    * derivation:
    *  - rerun over unchanged triples → marker hit, no-op (resume):
    *    nothing is read or derived, so it starts no Spark job;
    *  - rerun after new triple snapshots landed (a streaming sink, a
    *    later pipeline run) → recompute + supersede, so latest reads
    *    serve ONE fresh snapshot, never a stale∪fresh union;
    *  - as-of reads before the refresh still see the older analytics
    *    (supersede is id-scoped, like [[SnapshotStore.compact]]);
    *  - `expireReplaced` reclaims superseded analytics data.
    * Reads ONLY committed snapshots (pred-partitioned triples, so the
    * mentionedIn scan partition-prunes); the corpus is never
    * rescanned. PageRank reads the just-refreshed co-mention stage
    * rather than its lineage — the train/serve split applied to graph
    * state: edge construction once per triple version, rank
    * iterations re-run cheaply on top. */
  def runAnalytics(spark: SparkSession, store: SnapshotStore): SnapshotStore = {
    val upTo = store.liveManifests().filter(_.stage == "triples").map(_.id)
      .maxOption.getOrElse(throw new IllegalStateException(
        "runAnalytics needs a committed 'triples' stage — run the pipeline first"))
    def triples() = store.read(spark, stage = Some("triples"))
    val done = store.markers()
    // `build` runs only on a marker miss, so a no-op refresh reads and
    // derives nothing; its release handle runs once the commit is done
    def refresh(stage: String)(build: => (DataFrame, () => Unit)): Unit = {
      val marker = s"$stage-upto-$upTo"
      if (!done.contains(marker)) {
        val prior = store.liveManifests().filter(_.stage == stage).map(_.id)
        val (df, release) = build
        try store.commit(df, stage, marker, replaces = prior): Unit
        finally release()
      }
    }
    val noRelease = () => ()
    refresh("graph_degree")(GraphAnalytics.degrees(triples()) -> noRelease)
    // WithRelease: the pair intermediate's DISK_ONLY blocks are dropped
    // once the co-mention stage is committed — a long-lived driver
    // refreshing analytics per triple version no longer accumulates
    // cache entries across refreshes (ADVICE r5). PageRank reads the
    // COMMITTED co-mention stage, so the release cannot starve it.
    refresh("graph_comention")(GraphAnalytics.comentionTopKWithRelease(
      triples().where(col("pred") === "mentionedIn")))
    refresh("graph_pagerank")(
      GraphAnalytics.pagerankInt(store.read(spark, stage = Some("graph_comention")),
        releaseInputs = true) -> noRelease)
    store
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("target/pipeline-out")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-kg-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val store = run(spark, sfDir, outDir)
    val triples = store.read(spark, stage = Some("triples"))
    val n = triples.count()
    println(s"""{"pipeline":"ok","triples":$n,"snapshots":${store.manifests().size}}""")
    spark.stop()
  }
}
