package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.SnapshotStore

/** Structured Streaming semantics (SURVEY.md §5.6): replay parquet
  * micro-batches with processAllAvailable; the streamed KG stages must
  * equal the batch operators, and the snapshot sink must commit each
  * batch exactly once.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private def eventRows(rows: Seq[(Long, Timestamp, Long, String, Double)]): DataFrame =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), lit("{}").as("props"))

  /** FileStreamSource lists files at the glob level, not recursively —
    * land each micro-batch as a single flat .parquet FILE in `dir`. */
  private def writeBatch(dir: String, df: DataFrame, name: String): Unit = {
    val tmp = Files.createTempDirectory("mb").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  test("ST-KG: streaming mention detection ≡ batch operators, across micro-batches") {
    import graft.kg.{Corpus, Engine, Stages}
    val sf = "/root/testdata/sf0.001"
    val docs = Corpus.docs(spark, sf).localCheckpoint(true)
    val gazSeq = Stages.gazetteer(spark, sf)
      .select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    val in = Files.createTempDirectory("stkg-in").toString
    writeBatch(in, docs.where(col("doc_id").cast("long") % 2 === 0), "1")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 2 === 1), "2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamOps.streamingMentions(stream, gazSeq)
      .writeStream.outputMode("append").format("memory").queryName("stkg_out").start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq.sorted
    val got = rows(spark.table("stkg_out"))
    val want = rows(Engine.mentions(Corpus.explodeSpans(docs), gazSeq))
    assert(got.nonEmpty && got == want)
  }

  test("ST-KG2: incremental linking end-to-end ≡ batch triples (accumulated, distinct)") {
    import graft.kg.{Corpus, Stages}
    val sf = "/root/testdata/sf0.001"
    val docs = Corpus.docs(spark, sf).localCheckpoint(true)
    val gazSeq = Stages.gazetteer(spark, sf)
      .select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    val plain = Stages.anchorDict(spark, sf).localCheckpoint(true)
    // every evaluation of the dictionary frame passes each of its rows
    // through this UDF once
    val evals = spark.sparkContext.longAccumulator("anchor-evals")
    val tick = udf { (s: String) => evals.add(1); s }.asNondeterministic()
    val anchor = plain.withColumn("alias_norm", tick(col("alias_norm")))
    val canon = Stages.canonicalMap(spark, sf).localCheckpoint(true)
    val in = Files.createTempDirectory("stkg2-in").toString
    val storeDir = Files.createTempDirectory("stkg2-store").toString
    val store = SnapshotStore.forRoot(storeDir)
    // three micro-batches, docs whole within each
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 0), "1")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 1), "2")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 2), "3")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamOps.incrementalTriples(stream, gazSeq, anchor,
      Stages.scoreBoost, canon, store,
      canonRows = Some(3L * Stages.GazetteerSize)).start()
    try q.processAllAvailable() finally q.stop()

    assert(store.manifests().count(_.stage == "triples") == 3) // one commit per batch
    // the dictionary is grouped once per query, not once per batch
    assert(evals.value == plain.count(),
      s"${evals.value} dictionary rows evaluated for ${plain.count()} rows over 3 batches")
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj").distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val got = tset(store.read(spark, stage = Some("triples")))
    val want = tset(Stages.triples(spark, sf))
    assert(got.nonEmpty && got == want)
  }


  test("ST-KG4: per-batch triple snapshots compact to one and survive expiry (stream ≡ batch)") {
    import graft.kg.{Corpus, Stages}
    val sf = "/root/testdata/sf0.001"
    val docs = Corpus.docs(spark, sf).localCheckpoint(true)
    val gazSeq = Stages.gazetteer(spark, sf)
      .select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    val anchor = Stages.anchorDict(spark, sf).localCheckpoint(true)
    val canon = Stages.canonicalMap(spark, sf).localCheckpoint(true)
    val in = Files.createTempDirectory("stkg4-in").toString
    val store = SnapshotStore.forRoot(Files.createTempDirectory("stkg4-store").toString)
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 0), "1")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 1), "2")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 2), "3")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamOps.incrementalTriples(stream, gazSeq, anchor,
      Stages.scoreBoost, canon, store,
      canonRows = Some(3L * Stages.GazetteerSize)).start()
    try q.processAllAvailable() finally q.stop()

    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj").distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = tset(Stages.triples(spark, sf))

    // the maintenance pass the per-batch sink pattern needs: fold the
    // three tiny batch snapshots into one, then reclaim their data
    assert(store.compact(spark, "triples").nonEmpty)
    assert(store.liveManifests().count(_.stage == "triples") == 1)
    assert(tset(store.read(spark, stage = Some("triples"))) == want)

    assert(store.expireReplaced("triples") == 3)
    assert(tset(store.read(spark, stage = Some("triples"))) == want)
    // a foreachBatch REPLAY of an already-compacted-and-expired batch id
    // must still be a no-op, or recovery would duplicate triples
    assert(store.commit(store.read(spark, stage = Some("triples")),
      "triples", "triples-batch-1").isEmpty)
    assert(tset(store.read(spark, stage = Some("triples"))) == want)
  }

  test("ST-KG3: docs re-presented in a LATER batch keep accumulated triples ≡ batch (set semantics)") {
    import graft.kg.{Corpus, Stages}
    val sf = "/root/testdata/sf0.001"
    val docs = Corpus.docs(spark, sf).localCheckpoint(true)
    val gazSeq = Stages.gazetteer(spark, sf)
      .select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    val anchor = Stages.anchorDict(spark, sf).localCheckpoint(true)
    val canon = Stages.canonicalMap(spark, sf).localCheckpoint(true)
    val in = Files.createTempDirectory("stkg3-in").toString
    val store = SnapshotStore.forRoot(Files.createTempDirectory("stkg3-store").toString)
    // batch 1: all docs; batch 2: a third of them AGAIN (a re-ingested
    // shard under a NEW batch id — not a marker replay). Triples are
    // set-semantic, so the duplicate source rows must not change the
    // accumulated DISTINCT result.
    writeBatch(in, docs, "1")
    writeBatch(in, docs.where(col("doc_id").cast("long") % 3 === 0), "2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamOps.incrementalTriples(stream, gazSeq, anchor,
      Stages.scoreBoost, canon, store,
      canonRows = Some(3L * Stages.GazetteerSize)).start()
    try q.processAllAvailable() finally q.stop()
    assert(store.manifests().count(_.stage == "triples") == 2)
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj").distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val got = tset(store.read(spark, stage = Some("triples")))
    assert(got.nonEmpty && got == tset(Stages.triples(spark, sf)))
  }

  test("ST6: foreachBatch snapshot sink commits exactly once per batch") {
    val in = Files.createTempDirectory("st6-in").toString
    val storeDir = Files.createTempDirectory("st6-store").toString
    val store = SnapshotStore.forRoot(storeDir)
    writeBatch(in, eventRows(Seq(
      (1L, ts(1), 1L, "a", 1.0), (2L, ts(2), 2L, "b", 1.0))), "1")
    writeBatch(in, eventRows(Seq((3L, ts(3), 3L, "c", 1.0))), "2")

    val q = StreamOps.snapshotSink(
      StreamOps.source(spark, in), store, "ingest").start()
    try q.processAllAvailable() finally q.stop()
    assert(store.read(spark).count() == 3)

    // replay the same batches (fresh query, same batch ids) → markers skip
    val q2 = StreamOps.snapshotSink(
      StreamOps.source(spark, in), store, "ingest").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(store.read(spark).count() == 3) // still exactly once
  }
}
