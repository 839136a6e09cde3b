package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kg.{Corpus, Engine, GraphAnalytics, Pipeline, Stages}
import graft.model.Model
import graft.sources.SnapshotStore
import graft.streaming.StreamOps

/** One benchmark workload: a corpus shape for the build phase and the
  * document count of each streamed batch in the ingest phase. */
final case class Workload(name: String, profile: Gen.Profile, batchDocs: Int)

object Workload {
  val All: Seq[Workload] = Seq(
    // nearly every long token is a surface: most mention, candidate,
    // link and triple rows per byte, biggest dedup shuffle
    Workload("dense", Gen.Dense, batchDocs = 25),
    // multi-KB spans, surfaces ~1.5 % of tokens: scan, explode and the
    // matcher do the work, links and dedup see few rows
    Workload("sparse", Gen.Sparse, batchDocs = 4))
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--spans <file>]`.
  * Runs one workload in one JVM (Spark local[4]) with one closed-loop
  * client and prints the result JSON as its last line. */
object Main {

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, spans: Option[Path])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = need("workload")
    val wl = Workload.All.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${Workload.All.map(_.name).mkString(", ")})"))
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be >= 1")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(wl, need("seed").toLong, seconds, trace, Paths.get(need("work")).toAbsolutePath,
      kv.get("spans").map(Paths.get(_).toAbsolutePath))
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    Io.rmTree(a.work)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val line = try new Run(spark, a, sessionS).apply() finally spark.stop()
    println(line)
  }
}

/** Order-independent fingerprint of a triple set. */
final case class TripleHash(rows: Long, xor: Long, sum: Long)

object TripleHash {
  def of(df: DataFrame): TripleHash = {
    val h = xxhash64(col("subj"), col("pred"), col("obj"))
    val r = df.select("subj", "pred", "obj").distinct()
      .agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
        coalesce(sum(pmod(h, lit(1000000007L))), lit(0L)))
      .head()
    TripleHash(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** One run of one workload. */
final class Run(spark: SparkSession, a: Main.Args, sessionS: Double) {
  import Run._

  private val wl = a.workload
  private val work = a.work
  private val in = work.resolve("in")
  private val corpusPath = in.resolve("corpus").toString
  private var attempted = 0L
  private var failed = 0L
  private val startNs = System.nanoTime()

  private def log(s: String): Unit = println(s"[perfbench ${wl.name}] $s")

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }

  /** One benchmark operation: counted as attempted, and as failed when
    * it throws (the run then reports the failure and carries on). */
  private def op[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        log(s"FAILED $what: $e")
        None
    }
  }

  /** An output check, counted like an operation. */
  private def check(what: String)(ok: => Boolean): Unit =
    op(what)(ok) match {
      case Some(true) => ()
      case Some(false) => failed += 1; log(s"WRONG $what")
      case None => ()
    }

  private def freshDir(name: String): Path = {
    val d = work.resolve(name)
    Io.rmTree(d)
    d
  }

  // ---------------------------------------------------------------- set-up

  private var gazSeq: Seq[(String, String)] = Nil
  private var textBytes = 0L

  /** Generates and writes the inputs three times from the seed (the
    * median time enters setup_s; all three must be byte-identical),
    * derives the gazetteer, and runs the warm-up. Returns setup_s. */
  private def setup(): Double = {
    val p = wl.profile
    val gens = (0 until 3).map { i =>
      val dir = if (i == 0) in else work.resolve(s"in-$i")
      timed { val c = Gen.corpus(p, a.seed); Gen.write(spark, c, dir); c.stats }
    }
    val genS = gens.map(_._2)
    check("inputs are byte-identical across generations")(
      (1 until 3).forall(i => Io.sameTree(in, work.resolve(s"in-$i"))))
    (1 until 3).foreach(i => Io.rmTree(work.resolve(s"in-$i")))
    val st = gens.head._1
    textBytes = st.textBytes
    log(f"profile ${p.name}: docs=${st.docs} spans=${st.spans} text_spans=${st.textSpans} " +
      f"text_bytes=${st.textBytes} media_share=${st.mediaShare}%.3f " +
      f"surface_tokens_per_kb=${st.surfacesPerKb}%.2f zipf_s=${p.zipfS} seed=${a.seed}")

    val (_, warmS) = timed {
      gazSeq = gazetteer(in)
      check("derived gazetteer is the generated surface set")(
        gazSeq.map(_._1).toSet == Gen.Surfaces.toSet)
      warmup()
    }
    log(f"setup: session $sessionS%.2f s, inputs ${genS.map(x => f"$x%.2f").mkString("/")} s, " +
      f"warmup $warmS%.2f s")
    sessionS + median(genS) + warmS
  }

  private def gazetteer(dir: Path): Seq[(String, String)] =
    Stages.gazetteer(spark, dir.toString).select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))

  /** A build cycle once on a tenth of the corpus size, so the
    * single-sample build metrics do not pay class loading, code
    * generation or most JIT compilation. The ingest phase warms itself:
    * its metrics are medians over several batches. */
  private def warmup(): Unit = {
    val p = wl.profile
    val warmIn = work.resolve("warm-in")
    Gen.write(spark, Gen.corpus(p, a.seed, WarmFirstDoc, math.max(2, p.docs / 10)), warmIn)
    val dir = freshDir("warm-store").toString
    val store = Pipeline.run(spark, warmIn.toString, dir,
      corpusPath = Some(warmIn.resolve("corpus").toString))
    Pipeline.runAnalytics(spark, store)
  }

  // --------------------------------------------------------------- oracle

  private def surfaces: Seq[String] = gazSeq.map(_._1)

  /** The single-plan DAG over `docs` with this run's dictionaries. */
  private def oracle(docs: DataFrame): DataFrame =
    Engine.run(docs, gazSeq, Stages.anchorDictLocal(spark, surfaces),
      Stages.aliasEdgesLocal(spark, surfaces), Stages.scoreBoost)

  private lazy val buildOracle: TripleHash = TripleHash.of(oracle(spark.read.parquet(corpusPath)))

  // ---------------------------------------------------------------- build

  private val buildTps = mutable.ArrayBuffer.empty[Double]
  private val resumeS = mutable.ArrayBuffer.empty[Double]
  private val analyticsS = mutable.ArrayBuffer.empty[Double]
  private val bytesPerTriple = mutable.ArrayBuffer.empty[Double]

  /** [[Builds]] fresh `Pipeline.run`s, each into an empty store; then,
    * on the last store, [[Resumes]] no-op resumes and `runAnalytics`;
    * each with its output check. */
  private def buildPhase(): Unit = {
    var last: Option[(SnapshotStore, Path, TripleHash)] = None
    (0 until Builds).foreach { i =>
      val dir = freshDir(s"store-$i")
      op("Pipeline.run (fresh)")(timed(
        Pipeline.run(spark, in.toString, dir.toString, corpusPath = Some(corpusPath))))
        .foreach { case (store, wall) =>
          val h = TripleHash.of(store.read(spark, stage = Some("triples")))
          check("committed triples equal Engine.run")(h == buildOracle)
          buildTps += h.rows / wall
          last.foreach(l => Io.rmTree(l._2))
          last = Some((store, dir, h))
        }
    }
    last.foreach { case (store, dir, h) =>
      val manifests = store.manifests().size
      (0 until Resumes).foreach { _ =>
        op("Pipeline.run (no-op resume)")(timed(
          Pipeline.run(spark, in.toString, dir.toString, corpusPath = Some(corpusPath))))
          .foreach { case (_, s) => resumeS += s }
      }
      check("no-op resumes keep the triple set and manifest count")(
        store.manifests().size == manifests &&
          TripleHash.of(store.read(spark, stage = Some("triples"))) == h)
      op("Pipeline.runAnalytics")(timed(Pipeline.runAnalytics(spark, store)))
        .foreach { case (_, s) => analyticsS += s }
      check("analytics stages committed")(
        Seq("graph_degree", "graph_comention", "graph_pagerank").forall(st =>
          store.liveManifests().exists(_.stage == st)))
      bytesPerTriple += Io.bytes(dir).toDouble / h.rows
      Io.rmTree(dir)
    }
  }

  // --------------------------------------------------------------- ingest

  /** A running `StreamOps.incrementalTriples` query over a directory of
    * batch files, committing into its own store. */
  private final class Ingest(name: String, firstDoc: Long) {
    val src: Path = Files.createDirectories(freshDir(s"$name-src"))
    private val staging = freshDir(s"$name-staging")
    val store: SnapshotStore = SnapshotStore.forRoot(freshDir(s"$name-store").toString)
    private val canon = Engine.canonical(Stages.aliasEdgesLocal(spark, surfaces))
      .localCheckpoint(eager = true)
    val query = StreamOps.incrementalTriples(
        spark.readStream.schema(Model.docSchema).option("maxFilesPerTrigger", 1)
          .parquet(src.toString),
        gazSeq, Stages.anchorDictLocal(spark, surfaces), Stages.scoreBoost, canon, store,
        canonRows = Some(3L * Stages.GazetteerSize))
      .option("checkpointLocation", freshDir(s"$name-ckpt").toString)
      .start()
    query.processAllAvailable()

    /** Generates batch `b` (untimed), then drops it into the source
      * directory and waits until its triples are committed. Returns
      * the drop-to-visible latency in ms. */
    def batch(b: Int): Double = {
      val dir = staging.resolve(s"b$b")
      Gen.writeParquet(spark, Gen.corpus(wl.profile, a.seed, firstDoc + b.toLong * wl.batchDocs,
        wl.batchDocs).docs, Model.docSchema, dir)
      val t0 = System.nanoTime()
      Files.move(dir.resolve("part-00000.parquet"), src.resolve(f"batch-$b%06d.parquet"))
      query.processAllAvailable()
      secondsSince(t0) * 1000
    }

    /** The `i`-th lookup: one entity's mentionedIn triples, read from
      * the store and collected. Returns (ms, the executed lookup). */
    def lookup(i: Int): (Double, DataFrame) = {
      val s = Gen.Surfaces((i * 7) % Gen.NumSurfaces)
      // the canonical id is the alias component's minimum: E0_ when
      // the surface has an even length (chain E1 -> E0), else E1_
      val subj = (if (s.length % 2 == 0) "E0_" else "E1_") + s
      val t0 = System.nanoTime()
      val df = store.read(spark, stage = Some("triples"))
        .where(col("pred") === "mentionedIn" && col("subj") === subj)
      df.collect()
      (secondsSince(t0) * 1000, df)
    }

    def stop(): Unit = query.stop()

    /** Accumulated store, DISTINCT, against Engine.run over every
      * ingested document. */
    def verify(): Unit = check("ingested triples equal Engine.run over all ingested docs")(
      TripleHash.of(store.read(spark, stage = Some("triples"))) ==
        TripleHash.of(oracle(spark.read.schema(Model.docSchema).parquet(src.toString))))
  }

  private val ingestMs = mutable.ArrayBuffer.empty[Double]
  private val lookupMs = mutable.ArrayBuffer.empty[Double]

  /** Closed loop, one client: one batch, then [[LookupsPerBatch]]
    * lookups of different entities. Runs at least
    * [[MinBatches]] batches and then until the deadline. */
  private def ingestPhase(deadlineNs: Long): Unit = {
    val s = new Ingest("ingest", IngestFirstDoc)
    try {
      var b = 0
      while (b < MinBatches || (System.nanoTime() < deadlineNs && b < MaxBatches)) {
        op("ingest batch")(s.batch(b)).foreach(ingestMs += _)
        (0 until LookupsPerBatch).foreach { k =>
          op("lookup")(s.lookup(b * LookupsPerBatch + k)).foreach(l => lookupMs += l._1)
        }
        b += 1
      }
    } finally s.stop()
    val (_, verifyS) = timed(s.verify())
    log(f"ingest: verify $verifyS%.1f s, ${ingestMs.size} batches, ${lookupMs.size} lookups, " +
      s"${s.store.manifests().size} manifests")
  }

  // ---------------------------------------------------------------- runs

  def apply(): String = {
    val setupS = setup()
    log(f"setup ${setupS}%.3f s")
    if (a.trace) traced() else untraced(setupS)
  }

  private def untraced(setupS: Double): String = {
    val t0 = System.nanoTime()
    buildPhase()
    log(f"build phase: ${secondsSince(t0)}%.1f s")
    ingestPhase(t0 + (a.seconds * 1e9).toLong)
    log(f"measured ${secondsSince(t0)}%.1f s, total ${secondsSince(startNs)}%.1f s")
    def med(name: String, xs: Seq[Double]): Double = {
      require(xs.nonEmpty, s"no successful samples for $name")
      median(xs)
    }
    val values = Map(
      "setup_s" -> setupS,
      "build_triples_per_s" -> med("build", buildTps.toSeq),
      "resume_noop_s" -> med("resume", resumeS.toSeq),
      "analytics_s" -> med("analytics", analyticsS.toSeq),
      "store_bytes_per_triple" -> med("store bytes", bytesPerTriple.toSeq),
      "ingest_p50_ms" -> med("ingest", ingestMs.toSeq),
      "lookup_p50_ms" -> med("lookup", lookupMs.toSeq))
    Metrics.json(failed == 0, attempted, failed, Metrics.EndToEnd, values)
  }

  // --------------------------------------------------------------- traced

  /** Runs `df`'s own physical plan to the end, discarding rows, so its
    * SQL metrics (e.g. bytes scanned) stay readable on `df`. */
  private def drain(df: DataFrame): Unit =
    SQLExecution.withNewExecutionId(df.queryExecution, Some("perfbench")) {
      df.queryExecution.executedPlan.execute().foreach(_ => ())
    }

  private def traced(): String = {
    val sc = spark.sparkContext
    val jm = new JobMetrics
    sc.addSparkListener(jm)
    val tr = new Tracer(sc)
    val v = mutable.Map.empty[String, Double]
    tr.setOp("build")
    val layerStore = decomposedBuild(tr, v)
    val buildMs = tr.spans.filter(s => s.op == "build" && s.parent == 0)
      .map(s => (s.endNs - s.startNs) / 1e6).sum
    tr.setOp("analytics")
    decomposedAnalytics(tr, layerStore)

    tr.setOp("ingest")
    val s = new Ingest("ingest", IngestFirstDoc)
    jm.alias(s.query.runId.toString, "streaming.batch")
    var lastLookup: Option[DataFrame] = None
    try (0 until TracedBatches).foreach { b =>
      op("ingest batch")(tr.span("streaming.batch")(s.batch(b)))
      op("lookup")(tr.span("store.read")(s.lookup(b))).foreach(l => lastLookup = Some(l._2))
      op("markers")(tr.span("store.markers")(s.store.markers()))
    } finally s.stop()
    s.verify()

    // tracing overhead: one fresh Pipeline.run without, then one with
    // the listener and a span, after a first run that compiles the
    // plans only Pipeline.run itself uses
    tr.setOp("pipeline")
    def pipeline(traced: Boolean): Double = {
      org.apache.spark.ListenerBusDrain(sc)
      if (!traced) sc.removeSparkListener(jm)
      val dir = freshDir(s"overhead-store-$traced")
      def run() = Pipeline.run(spark, in.toString, dir.toString, corpusPath = Some(corpusPath))
      val (_, s) = timed(if (traced) tr.span("pipeline")(run()) else run())
      if (!traced) sc.addSparkListener(jm)
      Io.rmTree(dir)
      s
    }
    pipeline(traced = false)
    val untracedS = pipeline(traced = false)
    val tracedS = pipeline(traced = true)

    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(jm)
    a.spans.foreach { p => Files.createDirectories(p.getParent); tr.write(p) }

    val self = tr.selfMs
    def ms(layer: String): Double = self.getOrElse(layer, 0.0)
    v("stages.gazetteer.ms") = ms("stages.gazetteer")
    v("stages.gazetteer.jobs") = jm("stages.gazetteer").jobs.toDouble
    v("corpus.explode.ms") = ms("corpus.explode")
    v("corpus.explode.core_util") =
      jm("corpus.explode").cpuNs / 1e6 / math.max(1e-9, ms("corpus.explode") * Cores)
    v("functions.ac.ms") = ms("functions.ac")
    v("functions.ac.mb_per_s_per_core") =
      textBytes / 1e6 / math.max(1e-9, ms("functions.ac") / 1000) / Cores
    v("functions.ac.mentions_per_kb") = v("functions.ac.rows_out") / (textBytes / 1024.0)
    v("engine.candidates.ms") = ms("engine.candidates")
    v("engine.candidates.fanout") =
      v("engine.candidates.rows_out") / math.max(1.0, v("functions.ac.rows_out"))
    v("engine.links.ms") = ms("engine.links")
    v("engine.links.shuffle_write_bytes") = jm("engine.links").shuffleWriteBytes.toDouble
    v("engine.links.task_skew") = jm("engine.links").taskSkew
    v("cc.ms") = ms("cc")
    v("cc.jobs") = jm("cc").jobs.toDouble
    v("engine.triples.ms") = ms("engine.triples")
    v("engine.triples.shuffle_write_bytes") = jm("engine.triples").shuffleWriteBytes.toDouble
    v("engine.triples.spill_bytes") = jm("engine.triples").spillBytes.toDouble
    v("engine.triples.task_skew") = jm("engine.triples").taskSkew
    Seq("mentions", "links", "canonical", "triples").foreach { st =>
      v(s"store.commit.$st.ms") = ms(s"store.commit.$st")
    }
    v("store.markers.ms") = ms("store.markers")
    v("store.markers.manifests") = s.store.manifests().size
    v("store.read.ms") = ms("store.read")
    v("store.read.snapshots") = s.store.liveManifests().count(_.stage == "triples")
    v("store.read.files_scanned") =
      lastLookup.map(df => Plans.metric(df.queryExecution.executedPlan, "numFiles").toDouble)
        .getOrElse(0.0)
    Seq("degrees", "comention", "pagerank").foreach { k =>
      val g = jm(s"graph.$k")
      v(s"graph.$k.ms") = ms(s"graph.$k")
      v(s"graph.$k.jobs") = g.jobs.toDouble
      v(s"graph.$k.tasks") = g.tasks.toDouble
      v(s"graph.$k.shuffle_write_bytes") = g.shuffleWriteBytes.toDouble
    }
    v("streaming.batch.ms") = ms("streaming.batch")
    v("streaming.batch.jobs") = jm("streaming.batch").jobs.toDouble
    v("spark.jobs") = jm.total.jobs.toDouble
    v("spark.tasks") = jm.total.tasks.toDouble
    v("spark.cpu_ms") = jm.total.cpuNs / 1e6
    v("spark.gc_ms") = jm.total.gcMs.toDouble
    v("trace.overhead_ms") = (tracedS - untracedS) * 1000
    v("trace.reconcile_ratio") = buildMs / (untracedS * 1000)
    log(f"trace: untraced Pipeline.run ${untracedS * 1000}%.0f ms, traced ${tracedS * 1000}%.0f ms, " +
      f"decomposed build spans $buildMs%.0f ms; exchanges links=${v("engine.links.exchanges")}%.0f " +
      f"triples=${v("engine.triples.exchanges")}%.0f")
    check("decomposed build spans reconcile with the untraced Pipeline.run wall")(
      v("trace.reconcile_ratio") > 1.0 / ReconcileSlack && v("trace.reconcile_ratio") < ReconcileSlack)
    Metrics.json(failed == 0, attempted, failed, Metrics.PerLayer, v.toMap)
  }

  /** `Pipeline.run`'s stages called one by one, each input materialized
    * before the timed call so every span times one layer. */
  private def decomposedBuild(tr: Tracer, v: mutable.Map[String, Double]): SnapshotStore = {
    val dir = freshDir("layer-store")
    val store = SnapshotStore.forRoot(dir.toString)
    val carry = Seq(Engine.AdjMedia)
    def commitSpan[A](stage: String)(f: => A): A = {
      val (b0, f0) = (Io.bytes(dir), Io.files(dir))
      val r = tr.span(s"store.commit.$stage")(f)
      v(s"store.commit.$stage.bytes_written") = (Io.bytes(dir) - b0).toDouble
      v(s"store.commit.$stage.files") = (Io.files(dir) - f0).toDouble
      r
    }
    def cached(df: DataFrame): (DataFrame, Double) = {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      (c, c.count().toDouble)
    }

    def scanned(df: DataFrame): Double = Plans.metric(df.queryExecution.executedPlan, "filesSize").toDouble
    tr.span("store.markers")(store.markers())
    val gazDf = Stages.gazetteer(spark, in.toString)
    val gaz = tr.span("stages.gazetteer")(gazDf.collect().toSeq
      .map(r => (r.getAs[String]("surface"), r.getAs[String]("coarse_type"))))
    v("stages.gazetteer.input_bytes") = scanned(gazDf)
    val spans = Corpus.explodeSpansAdj(spark.read.parquet(corpusPath))
    tr.span("corpus.explode")(drain(spans))
    v("corpus.explode.input_bytes") = scanned(spans)
    val (spansC, spanRows) = cached(spans)
    v("corpus.explode.rows_out") = spanRows

    val mentions = Engine.mentions(spansC, gaz, carry)
    tr.span("functions.ac")(drain(mentions))
    val (mentionsC, mentionRows) = cached(mentions.withColumn("bucket",
      pmod(xxhash64(col("doc_id")), lit(Pipeline.NumBuckets)).cast("int")))
    v("functions.ac.rows_out") = mentionRows
    commitSpan("mentions")(store.commitBuckets(mentionsC, stage = "mentions", bucketCol = "bucket",
      buckets = 0 until Pipeline.NumBuckets, markerFor = b => s"mentions-bucket-$b",
      statsCol = Some("doc_id")))
    spansC.unpersist(); mentionsC.unpersist()

    val mentionsRead = store.read(spark, stage = Some("mentions"))
      .select(col("doc_id"), col("span_idx"), col("surface"), col("coarse_type"),
        col("n_occ"), col(Engine.AdjMedia))
    val candidates = Engine.candidates(mentionsRead,
      Stages.anchorDictLocal(spark, gaz.map(_._1)), carry)
    tr.span("engine.candidates")(drain(candidates))
    val (candidatesC, candidateRows) = cached(candidates)
    v("engine.candidates.rows_out") = candidateRows

    val links = Engine.links(candidatesC, Stages.scoreBoost, carry)
    v("engine.links.exchanges") = Plans.exchanges(links)
    tr.span("engine.links")(drain(links))
    val (linksC, linkRows) = cached(links)
    v("engine.links.rows_out") = linkRows
    commitSpan("links")(store.commit(linksC, stage = "links", marker = "links"))
    candidatesC.unpersist(); linksC.unpersist()

    val canon = tr.span("cc") {
      val c = Engine.canonical(Stages.aliasEdgesLocal(spark, gaz.map(_._1)))
      v("cc.rows_out") = c.collect().length
      c
    }
    commitSpan("canonical")(store.commit(canon, stage = "canonical", marker = "canonical"))

    val linksRead = store.read(spark, stage = Some("links"))
    val canonRows = store.liveManifests().filter(_.stage == "canonical").map(_.rows).sum
    val triples = Engine.triples(linksRead, store.read(spark, stage = Some("canonical")),
      Some(canonRows))
    v("engine.triples.exchanges") = Plans.exchanges(triples)
    tr.span("engine.triples")(drain(triples))
    val (triplesC, tripleRows) = cached(triples)
    v("engine.triples.rows_in") = linkRows
    v("engine.triples.rows_out") = tripleRows
    val emitted = linksRead.agg(sum(lit(2L) +
      size(coalesce(col(Engine.AdjMedia), array().cast("array<string>"))))).head().getLong(0)
    v("engine.triples.dedup_ratio") = emitted / math.max(1.0, tripleRows)
    commitSpan("triples")(store.commit(triplesC, stage = "triples", marker = "triples",
      partitionBy = Seq("pred")))
    triplesC.unpersist()
    check("decomposed build triples equal Engine.run")(
      TripleHash.of(store.read(spark, stage = Some("triples"))) == buildOracle)
    store
  }

  /** `Pipeline.runAnalytics`' three refreshes, one span each. */
  private def decomposedAnalytics(tr: Tracer, store: SnapshotStore): Unit = {
    val upTo = store.liveManifests().filter(_.stage == "triples").map(_.id).max
    def triples() = store.read(spark, stage = Some("triples"))
    def refresh(stage: String)(df: => DataFrame): Unit = {
      val marker = s"$stage-upto-$upTo"
      if (!store.markers().contains(marker)) {
        val prior = store.liveManifests().filter(_.stage == stage).map(_.id)
        store.commit(df, stage, marker, replaces = prior): Unit
      }
    }
    tr.span("graph.degrees")(refresh("graph_degree")(GraphAnalytics.degrees(triples())))
    tr.span("graph.comention") {
      val (com, release) = GraphAnalytics.comentionTopKWithRelease(
        triples().where(col("pred") === "mentionedIn"))
      refresh("graph_comention")(com)
      release()
    }
    tr.span("graph.pagerank")(refresh("graph_pagerank")(GraphAnalytics.pagerankInt(
      store.read(spark, stage = Some("graph_comention")), releaseInputs = true)))
  }
}

object Run {
  val Cores = 4
  val Builds = 2
  val Resumes = 3
  val MinBatches = 4
  val LookupsPerBatch = 2
  val MaxBatches = 200
  val TracedBatches = 4
  /** Traced decomposed build wall may differ from the untraced
    * `Pipeline.run` wall by at most this factor either way. */
  val ReconcileSlack = 3.0
  val WarmFirstDoc = 1000000000L
  val IngestFirstDoc = 2000000000L

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
