package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSuite

/** Snapshot/lineage semantics (SURVEY.md §5.2): atomic append, as-of
  * reads, marker idempotence, crash-resume exactly-once:
  * commit(A) + crash + resume + commit(B) ≡ commit(A ∪ B). */
class SnapshotStoreSpec extends SparkSuite {

  private def freshStore(): (SnapshotStore, String) = {
    val dir = Files.createTempDirectory("snapstore").toString
    (SnapshotStore.forRoot(dir), dir)
  }

  test("append commits, as-of reads, lineage") {
    import spark.implicits._
    val (store, _) = freshStore()
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b = Seq((3L, "c")).toDF("k", "v")
    assert(store.commit(a, "stage1", "m1") == Some(1L))
    assert(store.commit(b, "stage2", "m2") == Some(2L))

    assert(store.read(spark).count() == 3)
    assert(store.read(spark, asOf = Some(1L)).count() == 2)
    assert(store.read(spark, stage = Some("stage2")).count() == 1)

    val lin = store.lineage(spark).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(lin.toSet == Set((1L, "stage1", 2L), (2L, "stage2", 1L)))
  }

  test("marker idempotence: replaying a commit is a no-op") {
    import spark.implicits._
    val (store, _) = freshStore()
    val a = Seq((1L, "a")).toDF("k", "v")
    assert(store.commit(a, "s", "batch-0").isDefined)
    assert(store.commit(a, "s", "batch-0").isEmpty) // replay
    assert(store.read(spark).count() == 1)
    assert(store.manifests().size == 1)
  }

  test("a marker with control characters round-trips; its replay is a no-op") {
    import spark.implicits._
    val (store, _) = freshStore()
    val a = Seq((1L, "a")).toDF("k", "v")
    assert(store.commit(a, "s", "b\t1").isDefined)
    assert(store.markers() == Set("b\t1"))
    assert(store.commit(a, "s", "b\t1").isEmpty) // replay
    assert(store.read(spark).count() == 1)
    // every field survives render → parse, escapes and brackets included
    val m = store.Manifest(7L, "/x/run[2026]/d\"q\\", "st\n", "m\u0001}",
      3L, 4L, Map("k\"}" -> -5L), Seq("h"), Seq("p"), Seq("/f]1", "/f,2"),
      Seq("CAST(x AS INT)"), Seq(1L, 2L), "a BIGINT,`b]` STRING")
    store.writeManifest(m)
    assert(store.manifests().last == m)
  }

  test("manifests in the hand-rolled renderer's format parse unchanged and render back byte-identical") {
    val (store, dir) = freshStore()
    // each literal is what the store wrote before its codec was
    // Jackson: every field set, with ']' in paths, quotes, backslashes
    // and negative metrics; a tab marker as a \u0009 escape; a
    // manifest without schema/files/replaces; other control chars, DEL
    // and non-ASCII text
    val cases = Seq(
      "{\"id\":1,\"dir\":\"/data/run[2026]/part-t\\\"q\\\\x\",\"stage\":\"st\\\"age\\\\\",\"marker\":\"mark\\\"er]\\\\\",\"rows\":12,\"wall_ms\":345,\"schema\":\"k BIGINT,`v]\\\"` STRING,`w\\\\` ARRAY<STRUCT<a: INT>>\",\"hidden\":[\"day\"],\"hidden_exprs\":[\"CAST((ts / 86400) AS BIGINT)\",\"\\\"a\\\\b\\\"\"],\"parts\":[\"p\",\"q\"],\"files\":[\"/data/run[2026]/part-t/p=1/snap-1-a].parquet\",\"/data/x,\\\"y\\\"\\\\z.parquet\"],\"replaces\":[3,4],\"metrics\":{\"b\\\"k\\\\\":-1,\"job_wall_ms\":0,\"max_k\":9,\"min_k\":-7}}" ->
        store.Manifest(1L, "/data/run[2026]/part-t\"q\\x", "st\"age\\", "mark\"er]\\", 12L, 345L,
          Map("min_k" -> -7L, "max_k" -> 9L, "b\"k\\" -> -1L, "job_wall_ms" -> 0L),
          hidden = Seq("day"), parts = Seq("p", "q"),
          files = Seq("/data/run[2026]/part-t/p=1/snap-1-a].parquet", "/data/x,\"y\"\\z.parquet"),
          hiddenExprs = Seq("CAST((ts / 86400) AS BIGINT)", "\"a\\b\""), replaces = Seq(3L, 4L),
          schema = "k BIGINT,`v]\"` STRING,`w\\` ARRAY<STRUCT<a: INT>>"),
      "{\"id\":2,\"dir\":\"/d/snap-2\",\"stage\":\"s\",\"marker\":\"b\\u00091\",\"rows\":1,\"wall_ms\":2}" ->
        store.Manifest(2L, "/d/snap-2", "s", "b\t1", 1L, 2L),
      "{\"id\":3,\"dir\":\"/d/bucket=0\",\"stage\":\"bk\",\"marker\":\"bk-0\",\"rows\":5,\"wall_ms\":6,\"hidden\":[\"day\"],\"hidden_exprs\":[\"x\"],\"metrics\":{\"bucket\":0,\"job_buckets\":3,\"job_wall_ms\":18,\"min_doc\":-3}}" ->
        store.Manifest(3L, "/d/bucket=0", "bk", "bk-0", 5L, 6L,
          Map("bucket" -> 0L, "job_buckets" -> 3L, "job_wall_ms" -> 18L, "min_doc" -> -3L),
          hidden = Seq("day"), hiddenExprs = Seq("x")),
      "{\"id\":4,\"dir\":\"/d/\u00e9/snap-4\",\"stage\":\"s/t\",\"marker\":\"m\\u0001\\u001f\u007f\\u000b\u00e9\\n\",\"rows\":0,\"wall_ms\":0}" ->
        store.Manifest(4L, "/d/\u00e9/snap-4", "s/t", "m\u0001\u001f\u007f\u000b\u00e9\n", 0L, 0L))
    cases.foreach { case (js, m) =>
      Files.writeString(Paths.get(dir, "_snapshots", s"${m.id}.json"), js)
    }
    assert(store.manifests() == cases.map(_._2))
    assert(store.markers() == cases.map(_._2.marker).toSet)
    // the old renderer escaped \b \t \f \r as \u00XX, Jackson writes
    // the short forms; every other byte must come back unchanged
    cases.foreach { case (js, m) =>
      rewriteManifest(store, dir)(m)
      val rendered = Files.readString(Paths.get(dir, "_snapshots", s"${m.id}.json"))
      if (!Seq("08", "09", "0c", "0d").exists(h => js.contains("\\u00" + h)))
        assert(rendered == js)
    }
    assert(store.manifests() == cases.map(_._2))
  }

  /** Replaces the committed manifest `<root>/_snapshots/<id>.json`
    * with `m`. */
  private def rewriteManifest(store: SnapshotStore, dir: String)(m: store.Manifest): Unit = {
    Files.delete(Paths.get(dir, "_snapshots", s"${m.id}.json"))
    store.writeManifest(m)
  }

  /** Reads `stage` through the schema its manifests recorded, then
    * through inference — the same manifests with `schema` stripped, as
    * an older store wrote them. Both must serve the same schema (names,
    * types, nullability, metadata) and rows, and planning the first
    * must start no Spark job. */
  private def assertRecordedSchemaServesInferred(store: SnapshotStore, dir: String, stage: String,
                                                 keepHidden: Boolean = false): Unit = {
    val ms = store.manifests().filter(_.stage == stage)
    assert(ms.nonEmpty && ms.forall(_.schema.nonEmpty), ms)
    val (recorded, jobs) = jobsStarted(
      store.read(spark, stage = Some(stage), keepHidden = keepHidden))
    assert(jobs == 0, s"$stage: planning the read started $jobs job(s)")
    ms.foreach(m => rewriteManifest(store, dir)(m.copy(schema = "")))
    val inferred = store.read(spark, stage = Some(stage), keepHidden = keepHidden)
    assert(recorded.schema == inferred.schema,
      s"$stage:\n${recorded.schema.treeString}\n${inferred.schema.treeString}")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    assert(rows(recorded) == rows(inferred) && rows(recorded).nonEmpty)
    ms.foreach(rewriteManifest(store, dir)(_))
  }

  test("reads take the schema from the manifest: same schema and rows as inference, no job") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (store, dir) = freshStore()
    // flat: nested array/struct/map columns, non-nullable primitives
    // and containers, decimal and timestamp columns; two commits
    def flat(k: Long) = Seq((k, Seq(1, 2), Map("a" -> k), (k.toInt, "s"),
        java.sql.Timestamp.valueOf("2026-01-02 03:04:05"),
        java.time.LocalDateTime.of(2026, 1, 2, 3, 4)))
      .toDF("k", "arr", "m", "st", "ts", "ntz")
      .withColumn("dec", lit("12.34").cast("decimal(10,2)"))
      .withColumn("nested", array(struct(col("k"), map(lit("x"), col("arr")))))
    assert(!flat(1L).schema("k").nullable)
    store.commit(flat(1L), "flat", "f1")
    store.commit(flat(2L), "flat", "f2")
    assertRecordedSchemaServesInferred(store, dir, "flat")

    // commitBuckets, bucket 2 empty: the bucket column stays a path
    val bdf = Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1)).toDF("k", "v", "bucket")
    store.commitBuckets(bdf, "bk", "bucket", Seq(0, 1, 2), b => s"bk-$b")
    assert(store.manifests().filter(_.stage == "bk").map(_.schema).toSet ==
      Set("k BIGINT,v STRING"))
    assertRecordedSchemaServesInferred(store, dir, "bk")

    // partitionBy on a string column whose values look numeric: its
    // type is still inferred from the directory names (as INT) on both
    // paths, because partition columns stay out of the recorded schema
    val pdf = Seq(("1", 1L, "a"), ("2", 2L, "b")).toDF("p", "k", "v")
    store.commit(pdf, "part", "p1", partitionBy = Seq("p"))
    store.commit(pdf, "part", "p2", partitionBy = Seq("p"))
    assert(store.read(spark, stage = Some("part")).schema("p").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assertRecordedSchemaServesInferred(store, dir, "part")

    // hidden partitions, served and dropped; then the compacted stage
    val hidden = Seq("day" -> (col("ts").cast("long") / 86400L).cast("long"))
    Seq((10L, "a"), (86400L * 2, "b")).zipWithIndex.foreach { case (r, i) =>
      store.commit(Seq(r).toDF("ts", "v"), "hid", s"h$i", hiddenPartitions = hidden)
    }
    assertRecordedSchemaServesInferred(store, dir, "hid", keepHidden = true)
    assertRecordedSchemaServesInferred(store, dir, "hid")
    assert(store.compact(spark, "hid").nonEmpty)
    assertRecordedSchemaServesInferred(store, dir, "hid")
    assert(store.compact(spark, "part").nonEmpty)
    assertRecordedSchemaServesInferred(store, dir, "part")
  }

  test("reads infer the schema when manifests lack one or disagree") {
    import spark.implicits._
    import org.apache.spark.sql.types.MetadataBuilder
    val (store, dir) = freshStore()
    // field metadata does not survive DDL: nothing recorded, inferred
    val md = new MetadataBuilder().putString("origin", "x").build()
    store.commit(Seq((1L, "a")).toDF("k", "v").select($"k", $"v".as("v", md)), "meta", "m0")
    assert(store.manifests().last.schema.isEmpty)
    assert(store.read(spark, stage = Some("meta")).schema("v").metadata == md)

    // a hand-written manifest without `schema` (an older store) reads
    val old = java.nio.file.Paths.get(dir, "data", "snap-old")
    Seq((5L, "e")).toDF("k", "v").write.parquet(old.toString)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_snapshots", "2.json"),
      s"""{"id":2,"dir":"$old","stage":"old","marker":"mo","rows":1,"wall_ms":1}""")
    assert(store.read(spark, stage = Some("old")).collect().map(_.getString(1)).toSeq == Seq("e"))

    // two commits with different schemas: the read merges the footers,
    // exactly as it does over the same manifests without a schema
    store.commit(Seq((1L, "a")).toDF("k", "v"), "ev", "e1")
    store.commit(Seq((2L, "b", 9.5)).toDF("k", "v", "w"), "ev", "e2")
    val ms = store.manifests().filter(_.stage == "ev")
    assert(ms.map(_.schema).distinct.size == 2 && ms.forall(_.schema.nonEmpty))
    val got = store.read(spark, stage = Some("ev"))
    ms.foreach(m => rewriteManifest(store, dir)(m.copy(schema = "")))
    val want = store.read(spark, stage = Some("ev"))
    assert(got.schema == want.schema)
    assert(got.collect().toSeq.sortBy(_.toString) == want.collect().toSeq.sortBy(_.toString))
  }

  test("commitBuckets: one write job, per-bucket lineage, empty buckets marker-only, replay no-op") {
    import spark.implicits._
    val (store, _) = freshStore()
    val df = Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1)).toDF("k", "v", "bucket")
    val ids = store.commitBuckets(df, "s", "bucket", Seq(0, 1, 2), b => s"s-b$b",
      statsCol = Some("k"))
    assert(ids.size == 3)
    assert(store.markers() == Set("s-b0", "s-b1", "s-b2"))
    val ms = store.manifests()
    // observe-counted per-bucket rows; bucket 2 has no data at all
    assert(ms.map(m => m.metrics("bucket") -> m.rows).toMap ==
      Map(0L -> 2L, 1L -> 1L, 2L -> 0L))
    // per-bucket source ranges from the same observe; empty bucket → none
    val ranges = ms.map(m => m.metrics("bucket") ->
      (m.metrics.get("min_k"), m.metrics.get("max_k"))).toMap
    assert(ranges(0L) == (Some(1L), Some(2L)))
    assert(ranges(1L) == (Some(3L), Some(3L)))
    assert(ranges(2L) == (None, None))
    // one write job → all manifests share one snap-N parent dir
    assert(ms.map(m => java.nio.file.Paths.get(m.dir).getParent).toSet.size == 1)
    // read skips the empty bucket; bucket is a path, not a data column
    val rd = store.read(spark, stage = Some("s"))
    assert(rd.columns.toSet == Set("k", "v") && rd.count() == 3)
    // replay: committed buckets are filtered out driver-side
    assert(store.commitBuckets(df, "s", "bucket", Seq(0, 1, 2), b => s"s-b$b").isEmpty)
  }

  test("additive schema evolution: later commits add columns, old rows read null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val (store, _) = freshStore()
    store.commit(Seq((1L, "a")).toDF("k", "v"), "s", "m1")
    store.commit(Seq((2L, "b", 9.5)).toDF("k", "v", "w"), "s", "m2")
    val evolved = store.read(spark)
    assert(evolved.columns.toSet == Set("k", "v", "w"))
    val byK = evolved.collect().map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(byK(1L) && !byK(2L)) // pre-evolution rows serve null for w
    // time travel still serves the old schema as-of the old snapshot
    assert(store.read(spark, asOf = Some(1L)).columns.toSet == Set("k", "v"))
  }

  test("hidden partitioning: transform laid out + pruned, never served") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val (store, _) = freshStore()
    val events = Seq((86400L * 0 + 10, "a"), (86400L * 1 + 20, "b"),
      (86400L * 2 + 30, "c")).toDF("ts", "v")
    store.commit(events, "ev", "m1",
      hiddenPartitions = Seq("day" -> (col("ts").cast("long") / 86400L).cast("long")))
    // layout: hive dirs per day under the snapshot
    val m = store.manifests().head
    assert(m.hidden == Seq("day"))
    val dayDirs = java.nio.file.Files.list(java.nio.file.Paths.get(m.dir))
      .iterator()
    val names = scala.jdk.javaapi.CollectionConverters.asScala(dayDirs)
      .map(_.getFileName.toString).filter(_.startsWith("day=")).toSet
    assert(names == Set("day=0", "day=1", "day=2"))
    // default read serves the ORIGINAL schema (transform invisible)
    val rd = store.read(spark, stage = Some("ev"))
    assert(rd.columns.toSet == Set("ts", "v") && rd.count() == 3)
    // opting in: a filter on the hidden column prunes partition dirs
    val pruned = store.read(spark, stage = Some("ev"), keepHidden = true)
      .where(col("day") === 1L)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").contains("day"), scan.metadata)
    assert(pruned.collect().map(_.getString(1)).toSeq == Seq("b"))
  }

  test("SQL VERSION AS OF time travel through the V2 catalog") {
    import spark.implicits._
    val (store, dir) = freshStore()
    store.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "ev", "m1")
    store.commit(Seq((3L, "c")).toDF("k", "v"), "ev", "m2")
    store.commit(Seq((9L, "z")).toDF("k", "v"), "other", "m3")

    val cat = s"snap${math.abs(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", dir)

    // stage = table; latest read sees both ev commits, none of 'other'
    assert(spark.sql(s"SELECT * FROM $cat.ev").count() == 3)
    assert(spark.sql(s"SELECT v FROM $cat.other").collect().map(_.getString(0)).toSeq == Seq("z"))
    // Spark's native time-travel syntax resolves snapshot ids
    assert(spark.sql(s"SELECT * FROM $cat.ev VERSION AS OF 1").count() == 2)
    assert(spark.sql(s"SELECT * FROM $cat.ev VERSION AS OF 2").count() == 3)
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet == Set("ev", "other"))
    // predicate pushdown survives the catalog: filters reach the scan
    val plan = spark.sql(s"SELECT * FROM $cat.ev WHERE k = 3").queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,3)]"), plan.take(900))

    // the SQL surface serves the LIVE set after compaction — same rule
    // as SnapshotStore.read: no double rows, and VERSION AS OF below
    // the compaction id still sees the original history
    store.compact(spark, "ev")
    assert(spark.sql(s"SELECT * FROM $cat.ev").count() == 3)
    assert(spark.sql(s"SELECT * FROM $cat.ev VERSION AS OF 1").count() == 2)
  }

  test("catalog tables whose manifests agree plan with no job and serve read's schema") {
    import spark.implicits._
    val (store, dir) = freshStore()
    store.commit(Seq((1L, "a", "p1")).toDF("k", "v", "p"), "pt", "m1", partitionBy = Seq("p"))
    store.commit(Seq((2L, "b", "p2")).toDF("k", "v", "p"), "pt", "m2", partitionBy = Seq("p"))
    store.commit(Seq((3L, "c")).toDF("k", "v"), "flat", "m3")
    val cat = s"snapj${math.abs(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSet
    for (st <- Seq("pt", "flat")) {
      val (table, jobs) = jobsStarted(spark.table(s"$cat.$st"))
      assert(jobs == 0, s"$st: planning the catalog table started $jobs job(s)")
      val read = store.read(spark, stage = Some(st))
      assert(table.schema == read.schema, s"$st:\n${table.schema.treeString}\n${read.schema.treeString}")
      assert(rows(table) == rows(read) && rows(table).nonEmpty)
    }
    // a later commit that adds a column: both surfaces merge the footers
    store.commit(Seq((4L, "d", 9.5)).toDF("k", "v", "w"), "flat", "m4")
    val merged = spark.table(s"$cat.flat")
    assert(merged.columns.toSet == Set("k", "v", "w"))
    assert(merged.schema == store.read(spark, stage = Some("flat")).schema)
    assert(rows(merged) == rows(store.read(spark, stage = Some("flat"))))
  }

  test("crash-resume exactly-once: data without manifest is invisible; resume completes") {
    import spark.implicits._
    val (store, dir) = freshStore()
    val a = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    store.commit(a, "s", "mA")

    // simulate a crash mid-commit: parquet written, manifest never renamed
    val orphan = java.nio.file.Paths.get(dir, "data", "snap-99")
    Seq((99L, "junk")).toDF("k", "v").write.parquet(orphan.toString)
    assert(store.read(spark).count() == 2) // orphan invisible
    assert(store.manifests().last.id == 1L)

    // resume: driver consults markers() and re-runs only missing stages
    val done = store.markers()
    assert(done.contains("mA") && !done.contains("mB"))
    val b = Seq((3L, "c")).toDF("k", "v")
    if (!done.contains("mB")) store.commit(b, "s", "mB")
    assert(store.read(spark).count() == 3) // ≡ commit(A ∪ B), exactly once
  }

  test("SQL INSERT INTO commits an atomic snapshot; a replay appends") {
    import spark.implicits._
    val (store, dir) = freshStore()
    store.commit(Seq((1L, "a")).toDF("k", "v"), "ev", "m1")

    val cat = s"snapw${math.abs(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", dir)

    // first insert: a new snapshot, visible to latest reads
    spark.sql(s"INSERT INTO $cat.ev VALUES (2, 'b'), (3, 'c')")
    assert(store.manifests().size == 2)
    assert(spark.sql(s"SELECT * FROM $cat.ev").count() == 3)

    // the IDENTICAL statement replayed appends its rows again, as in
    // standard SQL: two identical rows may be two real events
    spark.sql(s"INSERT INTO $cat.ev VALUES (2, 'b'), (3, 'c')")
    assert(store.manifests().size == 3)
    assert(spark.sql(s"SELECT * FROM $cat.ev").count() == 5)

    // a different insert commits a new snapshot too...
    spark.sql(s"INSERT INTO $cat.ev VALUES (4, 'd')")
    assert(store.manifests().size == 4)
    // ...and the log stays time-travelable across the SQL commits
    assert(spark.sql(s"SELECT * FROM $cat.ev VERSION AS OF 2").count() == 3)
    assert(spark.sql(s"SELECT * FROM $cat.ev").count() == 6)
    // programmatic and SQL reads agree (one store, one snapshot log)
    assert(store.read(spark, stage = Some("ev")).count() == 6)
  }

  test("SQL INSERT replicates the stage's partition layout; hidden stages rejected; source-reading inserts append") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val (store, dir) = freshStore()
    store.commit(
      Seq(("E1", "hasType", "PER"), ("E2", "mentionedIn", "doc:1"))
        .toDF("subj", "pred", "obj"),
      "triples", "m1", partitionBy = Seq("pred"))

    val cat = s"snapp${math.abs(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", dir)

    // hive layout puts partition columns LAST in the served schema
    assert(spark.table(s"$cat.triples").columns.toSeq == Seq("subj", "obj", "pred"))
    spark.sql(s"INSERT INTO $cat.triples VALUES ('E3', 'doc:9', 'mentionedIn')")
    val m2 = store.manifests().last
    assert(m2.parts == Seq("pred"), m2)
    // the inserted snapshot's files live in the stage's shared hive
    // tree under their pred= dir — NOT a flat dir that would poison
    // partition discovery — and carry the snapshot id in their names
    assert(m2.files.nonEmpty &&
      m2.files.forall(f => f.contains("/pred=mentionedIn/") &&
        f.contains(s"snap-${m2.id}-")), m2.files)
    // both read paths keep working across old + inserted snapshots
    assert(spark.sql(s"SELECT * FROM $cat.triples").count() == 3)
    assert(store.read(spark, stage = Some("triples")).count() == 3)
    assert(spark.sql(
      s"SELECT subj FROM $cat.triples WHERE pred = 'mentionedIn' ORDER BY subj")
      .collect().map(_.getString(0)).toSeq == Seq("E2", "E3"))

    // hidden-partition stage (r5): the commit records the transform's
    // SQL, so INSERT REPLAYS the layout — the append lands in the
    // stage's hive tree under its computed day= dir, and the logical
    // surface never sees the layout column
    store.commit(Seq((86410L, "a")).toDF("ts", "v"), "ev", "mh",
      hiddenPartitions = Seq("day" -> (col("ts").cast("long") / 86400L).cast("long")))
    spark.sql(s"INSERT INTO $cat.ev VALUES (5, 'x')")
    val mh = store.manifests().last
    assert(mh.hidden == Seq("day") && mh.hiddenExprs.nonEmpty, mh)
    assert(mh.files.nonEmpty && mh.files.forall(_.contains("/day=0/")), mh.files)
    assert(spark.sql(s"SELECT * FROM $cat.ev").columns.toSeq == Seq("ts", "v"))
    assert(spark.sql(s"SELECT * FROM $cat.ev").count() == 2)
    assert(store.read(spark, stage = Some("ev")).count() == 2)

    // pre-r5 manifest (hidden recorded WITHOUT transform SQL): the
    // transform isn't reconstructible — INSERT must still be refused,
    // not silently mislaid
    store.commit(Seq((86410L, "a")).toDF("ts", "v"), "evold", "mo",
      hiddenPartitions = Seq("day" -> (col("ts").cast("long") / 86400L).cast("long")))
    rewriteManifest(store, dir)(store.manifests().last.copy(hiddenExprs = Nil))
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.evold VALUES (5, 'x')"))
    // must be THE pre-r5 guard, not any incidental failure
    assert(e.getMessage.contains("recorded without replayable transform SQL"),
      s"expected the pre-r5 hidden-manifest reject, got: ${e.getMessage}")

    // a source-reading insert APPENDS on every run as well
    store.commit(Seq((1L, "s")).toDF("k", "v"), "src", "ms")
    store.commit(Seq((0L, "z")).toDF("k", "v"), "dst", "md")
    val before = store.manifests().size
    spark.sql(s"INSERT INTO $cat.dst SELECT * FROM $cat.src")
    spark.sql(s"INSERT INTO $cat.dst SELECT * FROM $cat.src")
    assert(store.manifests().size == before + 2)
    assert(spark.sql(s"SELECT * FROM $cat.dst").count() == 3)

    // and so do time- and environment-dependent literals
    store.commit(Seq(("seed", "2020-01-01")).toDF("v", "d"), "log", "ml")
    spark.sql(s"INSERT INTO $cat.log VALUES ('deploy', CAST(current_date() AS STRING))")
    spark.sql(s"INSERT INTO $cat.log VALUES ('deploy', CAST(current_date() AS STRING))")
    assert(spark.sql(s"SELECT * FROM $cat.log").count() == 3)

    spark.sql(s"INSERT INTO $cat.log VALUES ('who', current_user())")
    spark.sql(s"INSERT INTO $cat.log VALUES ('who', current_user())")
    assert(spark.sql(s"SELECT * FROM $cat.log").count() == 5)
  }

  test("stage names ending in the SQL layout suffix are refused at commit") {
    import spark.implicits._
    val (store, _) = freshStore()
    val df = Seq((1L, "a")).toDF("k", "v")
    // such a stage would be unreachable via SQL: `ev$layout` parses as
    // the physical view of stage `ev` — refuse where the mistake is made
    val e = intercept[IllegalArgumentException](store.commit(df, "ev$layout", "m"))
    assert(e.getMessage.contains("reserved"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      store.commitBuckets(df.withColumn("b", org.apache.spark.sql.functions.lit(0)),
        "x$layout", "b", Seq(0), i => s"b$i"))
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("a duplicate snapshot id fails loudly and never clobbers the committed manifest") {
    import spark.implicits._
    val (store, dir) = freshStore()
    store.commit(Seq((1L, "a")).toDF("k", "v"), "t", "m1")
    val committed = store.manifests().last
    // simulate the cross-process racer the contract guards against:
    // another JVM computed the same next id and writes its manifest.
    // POSIX rename(2) silently REPLACES, so an ATOMIC_MOVE-based commit
    // would clobber `committed` here — the claim must be link-based
    // (exclusive) to fail loudly instead (r5 review)
    val racer = committed.copy(marker = "racer", rows = 999L)
    val e = intercept[IllegalStateException](store.writeManifest(racer))
    assert(e.getMessage.contains("already committed"), e.getMessage)
    assert(store.manifests().last == committed) // intact, not clobbered
    // the loser's temp file is cleaned up, not left as a dot orphan
    val snaps = java.nio.file.Paths.get(dir).resolve("_snapshots")
    val st = Files.list(snaps)
    val names = try st.toArray.map(_.toString.split('/').last) finally st.close()
    assert(!names.exists(_.startsWith(".")), names.mkString(","))
  }

  test("orphan temp manifest files never brick the store") {
    import spark.implicits._
    val (store, dir) = freshStore()
    store.commit(Seq((1L, "a")).toDF("k", "v"), "s", "m1")
    // a crash between createTempFile and the atomic move leaves a
    // dot-prefixed orphan; it must be invisible to every store call
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_snapshots", ".tmp-2dead.json"),
      Array.emptyByteArray)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_snapshots", ".tmp-2dead.tmp"),
      "half-writ".getBytes)
    assert(store.manifests().size == 1)
    assert(store.commit(Seq((2L, "b")).toDF("k", "v"), "s", "m2") == Some(2L))
    assert(store.read(spark, stage = Some("s")).count() == 2)
  }

  test("cached store instance survives an external wipe of its directories") {
    import spark.implicits._
    val (store, dir) = freshStore()
    store.commit(Seq((1L, "a")).toDF("k", "v"), "s", "m1")
    assert(store.manifests().size == 1)
    // a fixture (e.g. a bench pass) deletes the whole store dir while
    // the JVM-cached forRoot instance lives on: a missing _snapshots
    // dir is an EMPTY store, and the next commit recreates the layout
    // — before this fix, manifests() threw NoSuchFileException and a
    // multi-pass bench recorded bogus fast-fail times
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    assert(store.manifests().isEmpty)
    assert(store.commit(Seq((2L, "b")).toDF("k", "v"), "s", "m1") == Some(1L))
    assert(store.read(spark).collect().map(_.getString(1)).toSeq == Seq("b"))
  }

  test("pre-file-manifest partitioned snapshots fail both read surfaces") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val (store, dir) = freshStore()
    // the layout partitioned commits had before file manifests: data in
    // the snapshot's own snap-<id> dir, layout recorded, no file list
    val old = Paths.get(dir, "data", "snap-42")
    val day = (col("ts") / 86400L).cast("long")
    Seq((86410L, "a")).toDF("ts", "v").withColumn("day", day)
      .write.partitionBy("day").parquet(old.toString)
    Files.writeString(Paths.get(dir, "_snapshots", "42.json"),
      s"""{"id":42,"dir":"$old","stage":"ev","marker":"m42","rows":1,"wall_ms":1,"hidden":["day"]}""")
    // a file-granular commit beside it must not be served alone
    store.commit(Seq((86400L * 3 + 9, "c")).toDF("ts", "v"), "ev", "m43",
      hiddenPartitions = Seq("day" -> day))
    val e = intercept[IllegalArgumentException](store.read(spark, stage = Some("ev")).collect())
    assert(e.getMessage.contains("snapshot(s) 42 "), e.getMessage)
    val cat = s"snapl${math.abs(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", dir)
    val e2 = intercept[Exception](spark.table(s"$cat.ev").collect())
    assert(e2.getMessage.contains("snapshot(s) 42 "), e2.getMessage)
  }

  test("partitioned stage: as-of isolation and schema evolution") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val (store, _) = freshStore()
    store.commit(Seq(("a", "p1", 1L), ("b", "p2", 2L)).toDF("v", "pc", "k"),
      "s", "m1", partitionBy = Seq("pc"))
    store.commit(Seq(("c", "p1", 10L)).toDF("v", "pc", "k"),
      "s", "m2", partitionBy = Seq("pc"))

    // as-of reads select file lists per manifest — snapshot isolation
    // holds even though all files share one hive tree
    assert(store.read(spark, stage = Some("s")).count() == 3)
    assert(store.read(spark, stage = Some("s"), asOf = Some(1L)).count() == 2)
    // the partition column round-trips through the shared tree
    assert(store.read(spark, stage = Some("s"))
      .where(col("pc") === "p1").count() == 2)

    // additive schema evolution across partitioned snapshots: the
    // layout-group union serves the unified schema, old rows null
    store.commit(Seq(("d", "p2", 3L, "extra")).toDF("v", "pc", "k", "x"),
      "s", "m3", partitionBy = Seq("pc"))
    val ev = store.read(spark, stage = Some("s"))
    assert(ev.columns.contains("x") && ev.count() == 4)
    assert(ev.where(col("x").isNotNull).collect().map(_.getString(0)).toSeq == Seq("d"))
  }

  test("SQL filter on a hidden-partition column prunes partition dirs via the catalog") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val (store, dir) = freshStore()
    val events = Seq((86400L * 0 + 10, "a"), (86400L * 1 + 20, "b"),
      (86400L * 2 + 30, "c")).toDF("ts", "v")
    store.commit(events, "ev", "m1",
      hiddenPartitions = Seq("day" -> (col("ts").cast("long") / 86400L).cast("long")))

    val cat = s"snaph${math.abs(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", dir)

    // the DEFAULT SQL table serves the LOGICAL schema — exactly what
    // SnapshotStore.read serves (one schema contract, VERDICT r4 #6)
    assert(spark.table(s"$cat.ev").columns.toSeq ===
      store.read(spark, stage = Some("ev")).columns.toSeq)
    assert(!spark.table(s"$cat.ev").columns.contains("day"))
    // the PHYSICAL layout view is the explicit $layout opt-in (the SQL
    // spelling of keepHidden=true): hidden col visible there, and a
    // WHERE on the transform column must become a PARTITION filter —
    // pruned dirs, not a row filter over all files
    val lv = "ev" + GraftCatalog.LayoutSuffix
    assert(spark.table(s"$cat.`$lv`").columns.contains("day"))
    val q = spark.sql(s"SELECT ts, v FROM $cat.`$lv` WHERE day = 1")
    assert(q.collect().map(_.getString(1)).toSeq == Seq("b"))
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    // the pruned scan plans exactly one FILE (one of the three day
    // dirs) — counting files, not RDD partitions, because Spark packs
    // multiple files into one partition and would pass vacuously
    val files = scan.batch.planInputPartitions().flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp.files
      case _ => Array.empty[org.apache.spark.sql.execution.datasources.PartitionedFile]
    }.length
    assert(files == 1,
      s"expected 1 surviving file after partition pruning, got $files; " +
        s"plan: ${scan.toString.take(900)}")

    // the layout view is read-only: INSERTing a computed layout column
    // would double-apply the transform
    val ins = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.`$lv` VALUES (5, 'x', 0)"))
    // must be THE read-only-view guard, not any incidental failure
    assert(ins.getMessage.contains("read-only physical view"),
      s"expected the layout-view write reject, got: ${ins.getMessage}")
  }

  test("a non-round-tripping hidden transform degrades the stage to programmatic-append-only") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val (store, dir) = freshStore()
    // a UDF-backed transform: its analyzed .sql form ("UDF(ts)") is
    // not resolvable SQL. expr() parses LAZILY in Spark 4, so only an
    // eager parse+resolve at commit time catches this (r5 review) —
    // without it the broken SQL is recorded and the first INSERT dies
    // months later mid-commit instead of hitting the designed reject
    val dayUdf = udf((ts: Long) => ts / 86400L)
    store.commit(Seq((86410L, "a")).toDF("ts", "v"), "evu", "m1",
      hiddenPartitions = Seq("day" -> dayUdf(col("ts"))))
    val m = store.manifests().last
    assert(m.hidden == Seq("day") && m.hiddenExprs.isEmpty, m)
    // the layout itself committed fine and reads back logically
    assert(store.read(spark, stage = Some("evu")).columns.toSeq == Seq("ts", "v"))

    val cat = s"snapu${math.abs(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", dir)
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.evu VALUES (5, 'x')"))
    assert(e.getMessage.contains("recorded without replayable transform SQL"),
      s"expected the programmatic-append-only reject, got: ${e.getMessage}")
  }

  test("a commit that changes the stage's layout spec is rejected, not written") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val (store, _) = freshStore()
    // partitioned snapshots of one stage share ONE hive tree; Spark's
    // partition discovery rejects mixed column sets inside it
    // (CONFLICTING_PARTITION_COLUMN_NAMES), so a spec-changing commit
    // would poison every later read of the stage. It must fail AT THE
    // WRITE, loudly — previously a documented "should" left to caller
    // discipline, and the INSERT replay path could resurrect an
    // abandoned transform from the mixed state (r5 review)
    val rows = Seq((86410L, "a")).toDF("ts", "v")
    store.commit(rows, "evl", "m1",
      hiddenPartitions = Seq("day" -> (col("ts").cast("long") / 86400L).cast("long")))
    def rejects(label: String)(f: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("poison the stage's shared hive tree"),
        s"$label: expected the layout-spec reject, got: ${e.getMessage}")
    }
    rejects("hidden transform renamed")(store.commit(rows, "evl", "m2",
      hiddenPartitions = Seq("hour" -> (col("ts").cast("long") / 3600L).cast("long"))))
    rejects("hidden dropped")(store.commit(rows, "evl", "m3"))
    rejects("hidden swapped for explicit")(
      store.commit(rows, "evl", "m4", partitionBy = Seq("v")))
    // nothing leaked into the log or the tree, and the stage still reads
    assert(store.manifests().count(_.stage == "evl") == 1)
    assert(store.read(spark, stage = Some("evl")).count() == 1)
    // the SAME spec keeps committing fine (respelled transform is OK —
    // the contract is the column-name spec)
    assert(store.commit(rows, "evl", "m5",
      hiddenPartitions = Seq("day" -> col("ts").cast("long").divide(86400L).cast("long"))).nonEmpty)
    assert(store.read(spark, stage = Some("evl")).count() == 2)
    // a spec change under a NEW stage name is the supported evolution
    assert(store.commit(rows, "evl_v2", "m6",
      hiddenPartitions = Seq("hour" -> (col("ts").cast("long") / 3600L).cast("long"))).nonEmpty)
  }
  test("compact folds live snapshots into one; history, markers, and replays survive") {
    import spark.implicits._
    val (store, _) = freshStore()
    // streaming-shaped: many tiny per-batch commits
    (0 until 5).foreach { b =>
      store.commit(Seq((b.toLong, s"v$b")).toDF("k", "v"), "tri", s"batch-$b")
    }
    val before = store.read(spark, stage = Some("tri"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(before.size == 5)

    val cid = store.compact(spark, "tri")
    assert(cid.contains(6L))
    // latest read: same content, ONE live snapshot planned
    val after = store.read(spark, stage = Some("tri"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before)
    assert(store.liveManifests().count(_.stage == "tri") == 1)
    // raw ledger keeps every manifest
    assert(store.manifests().count(_.stage == "tri") == 6)

    // id-scoped supersede: as-of BELOW the compaction sees history
    assert(store.read(spark, stage = Some("tri"), asOf = Some(2L)).count() == 2)
    // marker resume still serves the original snapshot
    assert(store.read(spark, stage = Some("tri"), marker = Some("batch-1")).count() == 1)
    // replaying an already-compacted batch id is STILL a no-op
    assert(store.commit(Seq((99L, "dup")).toDF("k", "v"), "tri", "batch-3").isEmpty)
    assert(store.read(spark, stage = Some("tri")).count() == 5)

    // a completed compaction retries as a no-op (one live snapshot left)
    assert(store.compact(spark, "tri").isEmpty)
  }

  test("compact preserves a partitioned+hidden layout") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val (store, _) = freshStore()
    def rows(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"u$i", i * 3600L)).toDF("id", "name", "ts")
    store.commit(rows(1, 4), "evt", "m1", partitionBy = Seq("name"),
      hiddenPartitions = Seq("hour" -> (col("ts").cast("long") / 3600L).cast("long")))
    store.commit(rows(5, 8), "evt", "m2", partitionBy = Seq("name"),
      hiddenPartitions = Seq("hour" -> (col("ts").cast("long") / 3600L).cast("long")))

    val cid = store.compact(spark, "evt")
    assert(cid.nonEmpty)
    val cm = store.liveManifests().filter(_.stage == "evt")
    assert(cm.size == 1)
    // layout spec preserved
    assert(cm.head.parts == Seq("name") && cm.head.hidden == Seq("hour"))
    // logical schema unchanged (hidden column still projected away)
    val got = store.read(spark, stage = Some("evt"))
    assert(got.columns.toSet == Set("id", "name", "ts"))
    assert(got.count() == 8)
  }

  test("expireReplaced reclaims superseded data; the ledger and latest reads survive") {
    import spark.implicits._
    val (store, _) = freshStore()
    (0 until 3).foreach { b =>
      store.commit(Seq((b.toLong, s"v$b")).toDF("k", "v"), "tri", s"batch-$b")
    }
    store.compact(spark, "tri")
    assert(store.hasLiveData("tri", "batch-1"))

    assert(store.expireReplaced("tri") == 3)
    // latest read unchanged; the compacted snapshot holds the data
    assert(store.read(spark, stage = Some("tri")).count() == 3)
    // resume probe now reports dead -> resume paths recompute
    assert(!store.hasLiveData("tri", "batch-1"))
    // the marker ledger survives: replays stay no-ops after expiry
    assert(store.commit(Seq((99L, "dup")).toDF("k", "v"), "tri", "batch-2").isEmpty)
    // expiry is idempotent
    assert(store.expireReplaced("tri") == 0)
    // as-of below the compaction horizon now fails loudly, not silently-empty
    intercept[Exception] {
      store.read(spark, stage = Some("tri"), asOf = Some(2L)).collect()
    }
  }

  test("expireReplaced on a partitioned stage deletes exactly the superseded files") {
    import spark.implicits._
    val (store, root) = freshStore()
    store.commit(Seq((1L, "a")).toDF("k", "p"), "pt", "m1", partitionBy = Seq("p"))
    store.commit(Seq((2L, "b")).toDF("k", "p"), "pt", "m2", partitionBy = Seq("p"))
    val cid = store.compact(spark, "pt")
    assert(cid.nonEmpty)
    assert(store.expireReplaced("pt") == 2)
    // the shared hive tree still serves the compacted snapshot
    assert(store.read(spark, stage = Some("pt")).count() == 2)
    val cm = store.liveManifests().filter(_.stage == "pt").head
    assert(cm.files.nonEmpty && cm.files.forall(f => java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
  }
  test("vacuumOrphans removes crash garbage, never live data — bucketed subdirs included") {
    import org.apache.spark.sql.functions.{col, pmod, xxhash64, lit}
    import spark.implicits._
    val (store, root) = freshStore()
    // live flat snapshot + live BUCKETED snapshot (manifests point at
    // snap-<id>/bucket=<b> SUBDIRS — the parent dir must survive) +
    // live partitioned snapshot (file-granular, shared part- tree)
    store.commit(Seq((1L, "a")).toDF("k", "v"), "flat", "m1")
    val bk = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
      .withColumn("bucket", pmod(xxhash64(col("k")), lit(2)).cast("int"))
    store.commitBuckets(bk, "bk", "bucket", Seq(0, 1), b => s"bk-$b")
    store.commit(Seq((5L, "p")).toDF("k", "p"), "pt", "m2", partitionBy = Seq("p"))

    // crash garbage: a data dir with no manifest, an in-flight temp
    // dir, and an unreferenced parquet inside the shared part- tree
    val data = java.nio.file.Paths.get(root, "data")
    val orphanDir = data.resolve("snap-99")
    java.nio.file.Files.createDirectories(orphanDir)
    java.nio.file.Files.write(orphanDir.resolve("junk.parquet"), Array[Byte](1, 2))
    val tmpDir = data.resolve(".tmp-snap-98")
    java.nio.file.Files.createDirectories(tmpDir)
    java.nio.file.Files.write(tmpDir.resolve("x.parquet"), Array[Byte](3))
    val treeOrphan = data.resolve("part-pt").resolve("p=zz")
    java.nio.file.Files.createDirectories(treeOrphan)
    java.nio.file.Files.write(treeOrphan.resolve("snap-77-orphan.parquet"), Array[Byte](4))

    val before = (store.read(spark, stage = Some("flat")).count(),
      store.read(spark, stage = Some("bk")).count(),
      store.read(spark, stage = Some("pt")).count())
    assert(store.vacuumOrphans() == 3)
    // every live read unchanged; garbage gone; vacuum is idempotent
    assert((store.read(spark, stage = Some("flat")).count(),
      store.read(spark, stage = Some("bk")).count(),
      store.read(spark, stage = Some("pt")).count()) == before)
    assert(!java.nio.file.Files.exists(orphanDir))
    assert(!java.nio.file.Files.exists(tmpDir))
    assert(!java.nio.file.Files.exists(treeOrphan.resolve("snap-77-orphan.parquet")))
    assert(store.vacuumOrphans() == 0)
  }

  test("a store moved to another root reads back and vacuums nothing live") {
    import spark.implicits._
    val (store, dir) = freshStore()
    store.commit(Seq((1L, "a")).toDF("k", "v"), "flat", "m1")
    store.commit(Seq((2L, "b")).toDF("k", "p"), "pt", "m2", partitionBy = Seq("p"))
    store.commitBuckets(Seq((3L, "c", 0), (4L, "d", 1)).toDF("k", "v", "bucket"),
      "bk", "bucket", Seq(0, 1), b => s"bk-$b")
    val stages = Seq("flat", "pt", "bk")
    def rows(s: SnapshotStore) =
      stages.map(st => s.read(spark, stage = Some(st)).collect().map(_.toString).toSet)
    val before = rows(store)
    // manifests record data paths relative to the root
    assert(!Files.readString(Paths.get(dir, "_snapshots", "2.json")).contains(dir))

    val newRoot = Files.createTempDirectory("snapstore-moved").resolve("store")
    Files.move(Paths.get(dir), newRoot)
    val moved = SnapshotStore.forRoot(newRoot.toString)
    assert(moved.manifests().forall(_.dir.startsWith(newRoot.toString)))
    assert(rows(moved) == before)
    assert(moved.hasLiveData("flat", "m1") && moved.hasLiveData("pt", "m2") &&
      moved.hasLiveData("bk", "bk-0") && moved.hasLiveData("bk", "bk-1"))
    assert(moved.vacuumOrphans() == 0)
    assert(rows(moved) == before)
  }
}
