package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Thin snapshot/lineage store emulating the Iceberg table semantics the
  * contract uses (SURVEY.md §7.4: no Iceberg runtime exists in this
  * sandbox — this mirrors snapshots, atomic append, pruning and resume
  * behind one class so a real `iceberg-spark-runtime` can be swapped in).
  *
  * Layout:
  *   root/data/snap-<id>/         parquet of commit <id>
  *   root/_snapshots/<id>.json    manifest: data dir, stage, marker,
  *                                metrics, wall_ms, schema (atomic
  *                                rename commit)
  *
  * `schema` is the snapshot's DATA schema as compact DDL
  * (`StructType.toDDL`): the committed columns minus the partition,
  * hidden and bucket columns, every level nullable. It is recorded only
  * when `StructType.fromDDL` gives back exactly that schema, else it is
  * empty. A read with no caller schema whose selected manifests all
  * record the same non-empty DDL hands it to the parquet reader —
  * Iceberg keeps the schema in table metadata for the same reason:
  * planning a read opens no data file and starts no Spark job.
  * Partition columns stay out of it, so Spark still infers their types
  * from the directory names. Every other read (a manifest without a
  * schema, snapshots that added columns) merges the parquet footers
  * and serves the unified schema; older rows read added columns as
  * null.
  *
  * Commit protocol: write parquet → write manifest to a temp file →
  * `Files.move(..., ATOMIC_MOVE)`. A reader only sees fully-committed
  * snapshots; a crash before the rename leaves garbage data files but no
  * visible snapshot (resume then rewrites them — exactly-once at the
  * snapshot level). `marker` gives idempotence: committing the same
  * marker twice is a no-op, which makes `foreachBatch(batchId)` sinks and
  * stage-level pipeline resume replay-safe (BASELINE.json north_rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  */
object SnapshotStore {
  /** The manifest codec. Lower-case hex in `\u00XX` escapes keeps the
    * bytes of manifests written before the store used Jackson. */
  private val Json = JsonMapper.builder().disable(JsonWriteFeature.WRITE_HEX_UPPER_CASE).build()

  private val instances = new java.util.concurrent.ConcurrentHashMap[String, SnapshotStore]()

  /** One store instance per root within a JVM: `commit` serializes
    * writers on the instance monitor, so ad-hoc construction (the SQL
    * INSERT path constructs per statement) must resolve to the SAME
    * instance or two same-JVM writers race the next snapshot id and
    * clobber each other's. Cross-process writers remain governed by the
    * atomic-manifest-rename protocol under the store's single-driver
    * assumption. */
  def forRoot(root: String): SnapshotStore =
    instances.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString, new SnapshotStore(_))
}

// constructor private: every same-JVM handle on a root MUST be the same
// instance (forRoot) or commit's monitor serializes nothing
final class SnapshotStore private (rootStr: String) {
  private val root: Path = Paths.get(rootStr) // absolute and normalized (forRoot)
  private val snapsDir: Path = root.resolve("_snapshots")
  private val dataDir: Path = root.resolve("data")
  private val rootPrefix = root.toString + java.io.File.separator
  Files.createDirectories(snapsDir)
  Files.createDirectories(dataDir)

  /** `parts` = the commit's plain `partitionBy` columns (hidden
    * transforms are in `hidden`): recorded so later writers — the SQL
    * INSERT path in particular — replicate the stage's hive layout.
    *
    * `files` = for PARTITIONED commits, the snapshot's data files
    * inside the stage-shared layout root (`dir` is then that root).
    * Spark's directory-based partition discovery cannot serve multiple
    * per-snapshot partitioned roots (any non-k=v segment between base
    * and partition dirs raises CONFLICTING_DIRECTORY_STRUCTURES), so
    * partitioned snapshots follow the real table-format design: one
    * hive tree per stage, snapshots tracked at FILE granularity in the
    * manifest — readers pass the selected files plus
    * `basePath = dir`, which restores partition columns and dir-level
    * pruning, and as-of reads select manifests exactly as before.
    * Flat commits keep their own `snap-<id>` dir and empty `files`. */
  /** `hiddenExprs` = the SQL form of each hidden transform, parallel
    * to `hidden` (r5, VERDICT r4 #7): recorded so the SQL `INSERT`
    * path can REPLAY the layout — `expr(sql)` rebuilds the transform
    * Column the original commit computed, which the recorded NAME
    * alone cannot. Empty for pre-r5 manifests and for transforms
    * whose expression does not round-trip through SQL (such stages
    * stay programmatic-append-only, the pre-r5 behavior). */
  /** `replaces` = snapshot ids this COMPACTION snapshot supersedes
    * ([[compact]]): superseded snapshots drop out of latest reads (and
    * of as-of reads at or above the compaction id — superseding is
    * id-scoped, so time travel BELOW the compaction sees history
    * unchanged), but their manifests stay forever as the marker
    * ledger — replaying an already-compacted `foreachBatch` batch id
    * must remain a no-op, or compaction would re-open the door to
    * duplicate appends. Empty for ordinary commits. */
  /** `schema` = the data schema's DDL, or "" (see the layout note on
    * [[SnapshotStore]]). */
  final case class Manifest(id: Long, dir: String, stage: String, marker: String,
                            rows: Long, wallMs: Long,
                            metrics: Map[String, Long] = Map.empty,
                            hidden: Seq[String] = Nil,
                            parts: Seq[String] = Nil,
                            files: Seq[String] = Nil,
                            hiddenExprs: Seq[String] = Nil,
                            replaces: Seq[Long] = Nil,
                            schema: String = "")

  /** Empty arrays, an empty metrics map and an empty schema are left
    * out: [[parse]] reads a missing key as empty, and most manifests
    * record no layout at all. `dir` and `files` under the store root are
    * written relative to it, so a store moved to another root still
    * reads and vacuums; [[parse]] resolves them (absolute ones as is). */
  private def render(m: Manifest): String = {
    def rel(p: String) = p.stripPrefix(rootPrefix) // strings: a path need not map to the fs charset
    val o = SnapshotStore.Json.createObjectNode()
      .put("id", m.id).put("dir", rel(m.dir)).put("stage", m.stage).put("marker", m.marker)
      .put("rows", m.rows).put("wall_ms", m.wallMs)
    if (m.schema.nonEmpty) o.put("schema", m.schema)
    def arr(key: String, vs: Seq[String]): Unit =
      if (vs.nonEmpty) { val a = o.putArray(key); vs.foreach(a.add(_)) }
    arr("hidden", m.hidden); arr("hidden_exprs", m.hiddenExprs)
    arr("parts", m.parts); arr("files", m.files.map(rel))
    if (m.replaces.nonEmpty) { val a = o.putArray("replaces"); m.replaces.foreach(a.add(_)) }
    if (m.metrics.nonEmpty) {
      val mo = o.putObject("metrics")
      m.metrics.toSeq.sorted.foreach { case (k, v) => mo.put(k, v) }
    }
    SnapshotStore.Json.writeValueAsString(o)
  }

  private def parse(f: Path): Manifest = {
    val n = SnapshotStore.Json.readTree(f.toFile)
    def req(key: String) = Option(n.get(key)).getOrElse(missing(key, f))
    def elems(key: String) = Option(n.get(key)).toSeq.flatMap(_.elements.asScala)
    def strs(key: String) = elems(key).map(_.asText)
    def abs(p: String) = if (new java.io.File(p).isAbsolute) p else rootPrefix + p
    Manifest(req("id").asLong, abs(req("dir").asText), req("stage").asText,
      req("marker").asText, req("rows").asLong, req("wall_ms").asLong,
      Option(n.get("metrics")).toSeq.flatMap(_.properties.asScala)
        .map(e => e.getKey -> e.getValue.asLong).toMap,
      strs("hidden"), strs("parts"), strs("files").map(abs), strs("hidden_exprs"),
      elems("replaces").map(_.asLong), Option(n.get("schema")).fold("")(_.asText))
  }

  private def missing(key: String, f: Path): Nothing =
    throw new IllegalStateException(s"manifest missing $key: $f")

  def manifests(): Seq[Manifest] =
    manifestFiles().map(parse).sortBy(_.id)

  /** Every committed manifest file, unordered. */
  private def manifestFiles(): Seq[Path] = {
    // a cached instance (forRoot) can outlive its directories — e.g. a
    // bench fixture that wipes the store between passes; a missing
    // _snapshots dir IS an empty store, not an error
    if (!Files.isDirectory(snapsDir)) return Nil
    val list = Files.list(snapsDir)
    // dot-prefixed files are in-flight temp manifests (or their crash
    // orphans): parsing one would throw and brick every store call, so
    // only committed `<id>.json` names are visible
    try list.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".json") && !n.startsWith(".")
      }
      .toSeq
    finally list.close()
  }

  /** The manifests a data read should serve as of `asOf` (or latest):
    * [[manifests]] minus snapshots superseded by a [[compact]]ion whose
    * id is inside the as-of horizon. Id-scoped on purpose: an as-of
    * read BELOW a compaction's id sees the original snapshots (history
    * is immutable), at/above it sees only the compacted one. The
    * marker ledger ([[markers]], commit idempotence) always works on
    * the RAW list — a compaction must never re-open a replayed batch. */
  def liveManifests(asOf: Option[Long] = None): Seq[Manifest] = {
    val ms = manifests().filter(m => asOf.forall(m.id <= _))
    val superseded = ms.flatMap(_.replaces).toSet
    ms.filterNot(m => superseded.contains(m.id))
  }

  /** Every committed marker. Streams each manifest file's top-level
    * fields up to `marker` and stops there: a no-op resume decides every
    * stage from this set alone, so it costs a listing and one short scan
    * per manifest, not a full parse whose cost swings with how far the
    * JIT has compiled the parser. */
  def markers(): Set[String] = manifestFiles().map { f =>
    val p = SnapshotStore.Json.createParser(f.toFile)
    try {
      p.nextToken() // the manifest object
      // nextFieldName + getText: the calls [[parse]]'s readTree makes,
      // so the scan runs code the JIT has already compiled
      var key = p.nextFieldName()
      while (key != null && key != "marker") { p.nextToken(); p.skipChildren(); key = p.nextFieldName() }
      if (key == null) missing("marker", f)
      p.nextToken(); p.getText
    } finally p.close()
  }.toSet

  /** True iff (stage, marker) has committed rows AND every data
    * location its manifests record is still fully present on disk —
    * the resume-or-recompute probe for callers that still hold the
    * recomputable source (Dedup's sketch resume): a
    * committed-but-externally-wiped snapshot (a state [[manifests]]
    * tolerates) reads as dead here, so
    * the caller recomputes instead of crashing in [[read]] or
    * mid-scan on missing files (r5 review). Conservative in the safe
    * direction only: a false `true` (files vanish between probe and
    * read) fails exactly like today's read; a false `false` merely
    * recomputes. */
  def hasLiveData(stage: String, marker: String): Boolean = {
    val ms = manifests().filter(m =>
      m.stage == stage && m.marker == marker && m.rows > 0)
    def dirHasParquet(d: String): Boolean = {
      val p = Paths.get(d)
      Files.isDirectory(p) && {
        val walk = Files.walk(p)
        try walk.iterator().asScala.exists(f =>
          Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        finally walk.close()
      }
    }
    ms.nonEmpty && ms.forall { m =>
      if (m.files.nonEmpty) m.files.forall(f => Files.exists(Paths.get(f)))
      else dirHasParquet(m.dir)
    }
  }

  /** Claims the id with `Files.createLink`: link(2) is atomic AND
    * exclusive (EEXIST), whereas ATOMIC_MOVE on POSIX is rename(2),
    * which silently REPLACES an existing target, so a move alone cannot
    * enforce the duplicate-id fail-loudly contract against a
    * cross-process racer (r5 review). A duplicate-id race must fail
    * loudly, never clobber a committed manifest, and a commit must
    * never degrade to a non-atomic write. */
  private[sources] def writeManifest(m: Manifest): Unit = {
    Files.createDirectories(snapsDir) // recreate if wiped since construction
    val tmp = Files.createTempFile(snapsDir, s".tmp-${m.id}", ".tmp")
    Files.write(tmp, render(m).getBytes(StandardCharsets.UTF_8))
    val dst = snapsDir.resolve(s"${m.id}.json")
    try { Files.createLink(dst, tmp); Files.delete(tmp) }
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        Files.delete(tmp) // the dot-prefixed orphan would be invisible, but tidy
        throw new IllegalStateException(
          s"snapshot id ${m.id} already committed in $root — concurrent " +
            "writers must share one SnapshotStore.forRoot instance per JVM " +
            "and one driver per store across processes", e)
      case _: UnsupportedOperationException |
           _: java.nio.file.FileSystemException =>
        // hard links unavailable (exotic fs): fall back to the atomic
        // move; duplicate-id exclusivity then follows that fs's move
        // semantics, which is the strongest guarantee it offers
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** A stage named with the SQL layout-view suffix would be silently
    * hijacked by [[GraftCatalog]]'s name parsing (`` x$layout `` serves
    * the PHYSICAL view of stage `x`, never a stage literally named
    * that) — refuse it at commit time, where the mistake is made. */
  private def validateStageName(stage: String): Unit =
    require(!stage.endsWith(GraftCatalog.LayoutSuffix),
      s"stage name '$stage' is reserved: the '${GraftCatalog.LayoutSuffix}' " +
        "suffix selects a stage's physical layout view on the SQL surface")

  /** The `schema` a manifest records for `df` written with
    * `layoutCols` as partition directories (see the layout note on
    * [[SnapshotStore]]): "" when the DDL does not parse back to the
    * same nullable schema — field metadata, UDTs — so such snapshots
    * keep inferring. */
  private def recordedSchema(df: DataFrame, layoutCols: Seq[String]): String = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case o => o
    }
    val data = StructType(df.schema
      .filterNot(f => layoutCols.exists(_.equalsIgnoreCase(f.name)))
      .map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    val ddl = data.toDDL
    if (scala.util.Try(StructType.fromDDL(ddl)).toOption.contains(data)) ddl else ""
  }

  /** Atomic append commit. Returns the snapshot id, or None when the
    * marker was already committed (idempotent replay). `partitionBy`
    * lays the snapshot out as hive-style partition dirs so downstream
    * reads prune; `metrics` lands in the manifest (per-partition lineage,
    * SURVEY.md §1.3). The manifest's exact row count is observed DURING
    * the write job (`df.observe`), not by re-reading the output — a
    * read-back count would double write-path I/O at the 100 TB design
    * point. */
  /** `hiddenPartitions`: Iceberg-style hidden partitioning — each
    * (name, transform) pair is computed at WRITE time (e.g.
    * `"day" -> col("ts").cast("long") / 86400`), laid out as a hive
    * partition dir, and recorded in the manifest so [[read]] serves
    * the ORIGINAL schema back (the transform column never reaches the
    * reader unless it opts in with keepHidden — readers can't come to
    * depend on the layout, which is what lets the layout evolve).
    * Commits of one stage should share a partition spec (Spark's
    * multi-root partition discovery requires consistent layouts). */
  def commit(df: DataFrame, stage: String, marker: String,
             partitionBy: Seq[String] = Nil,
             metrics: Map[String, Long] = Map.empty,
             hiddenPartitions: Seq[(String, org.apache.spark.sql.Column)] = Nil,
             replaces: Seq[Long] = Nil): Option[Long] = synchronized {
    // hidden names also become hive dir names — keep them in a safe
    // identifier alphabet so the dir layout round-trips exactly
    (hiddenPartitions.map(_._1) ++ partitionBy).foreach { n =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"partition column name '$n' must match [A-Za-z_][A-Za-z0-9_]*")
    }
    validateStageName(stage)
    val existing = manifests() // one listing: marker check AND next id
    if (existing.exists(_.marker == marker)) return None
    // One stage = ONE layout spec. Partitioned snapshots share a
    // single hive tree (part-<stage>), and Spark's partition discovery
    // rejects mixed column sets inside it
    // (CONFLICTING_PARTITION_COLUMN_NAMES), so a commit that CHANGES
    // the stage's layout spec would poison every later read of the
    // stage — it fails HERE, loudly, instead (r5 review; was a
    // documented "should" left to caller discipline). The contract is
    // the column-NAME spec: transforms may be respelled as long as
    // they produce the same layout columns. Layout evolution = a new
    // stage.
    existing.filter(_.stage == stage).lastOption.foreach { prev =>
      require(prev.parts == partitionBy &&
          prev.hidden == hiddenPartitions.map(_._1),
        s"stage '$stage' is laid out as (parts=[${prev.parts.mkString(",")}], " +
          s"hidden=[${prev.hidden.mkString(",")}]); a commit with " +
          s"(parts=[${partitionBy.mkString(",")}], " +
          s"hidden=[${hiddenPartitions.map(_._1).mkString(",")}]) would poison " +
          "the stage's shared hive tree for every reader — write a new stage " +
          "to evolve the layout")
    }
    val t0 = System.nanoTime()
    val id = existing.lastOption.map(_.id).getOrElse(0L) + 1L
    val partitioned = partitionBy.nonEmpty || hiddenPartitions.nonEmpty
    // flat snapshots own a snap-<id> dir; partitioned snapshots write
    // to a temp dir and MOVE their files into the stage-shared hive
    // tree (see [[Manifest.files]]) — a crash mid-move leaves orphan
    // files no manifest references, which readers never see (they read
    // the manifest's file list, never list the shared tree)
    Files.createDirectories(dataDir) // recreate if wiped since construction
    val dir =
      if (partitioned) dataDir.resolve(s".tmp-snap-$id") else dataDir.resolve(s"snap-$id")
    val obs = Observation(s"snap-$id-rows")
    val withHidden = hiddenPartitions.foldLeft(df) {
      case (acc, (n, c)) => acc.withColumn(n, c)
    }
    val partCols = partitionBy ++ hiddenPartitions.map(_._1)
    val w = withHidden.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(dir.toString)
    val rows = obs.get("rows").asInstanceOf[Long]
    val (finalDir, files) =
      if (!partitioned) (dir.toString, Nil)
      else {
        // each parquet file moves into the stage's shared hive tree under
        // a snapshot-unique name (`snap-<id>-<file>`), keeping its hive
        // partition fragment; the targets are the manifest's file list
        val stageRoot = dataDir.resolve(s"part-$stage")
        val walk = Files.walk(dir)
        val moved = try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .map { f =>
            val target = Option(dir.relativize(f).getParent)
              .map(stageRoot.resolve).getOrElse(stageRoot)
              .resolve(s"snap-$id-${f.getFileName}")
            Files.createDirectories(target.getParent)
            Files.move(f, target, StandardCopyOption.ATOMIC_MOVE)
            target.toString
          }.toList
        finally walk.close() // release the dir handles the stream holds
        rmTmpTree(dir)
        (stageRoot.toString, moved)
      }
    // hidden transforms recorded as SQL so the SQL INSERT path can
    // REPLAY the layout (VERDICT r4 #7). The SQL comes from the
    // ANALYZED plan's aliases (the raw Column wraps an unresolved
    // ColumnNode whose .sql is not parseable SQL); a transform that
    // doesn't round-trip degrades to no recorded exprs — the stage
    // then stays programmatic-append-only, the pre-r5 contract
    val hiddenSql: Seq[String] =
      if (hiddenPartitions.isEmpty) Nil
      else try {
        val aliases = withHidden.queryExecution.analyzed.collect {
          case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
            p.projectList.collect {
              case a: org.apache.spark.sql.catalyst.expressions.Alias => a }
        }.flatten
        val sqls = hiddenPartitions.map { case (n, _) =>
          aliases.find(_.name == n).get.child.sql }
        // the recorded SQL must parse back — verify NOW, not at the
        // first SQL INSERT months later. expr() alone verifies NOTHING
        // in Spark 4 (Column parsing is deferred to analysis), so run
        // the same analysis the INSERT replay performs: parse + resolve
        // against the logical frame. Unparseable or unresolvable
        // (UDF-backed, lambda-variable) forms throw here and degrade
        // the stage to programmatic-append-only via the catch below
        sqls.foreach { s =>
          df.select(org.apache.spark.sql.functions.expr(s))
            .queryExecution.assertAnalyzed()
        }
        sqls
      } catch { case scala.util.control.NonFatal(_) => Nil }
    writeManifest(Manifest(id, finalDir, stage, marker, rows,
      (System.nanoTime() - t0) / 1000000L, metrics,
      hidden = hiddenPartitions.map(_._1), parts = partitionBy, files = files,
      hiddenExprs = hiddenSql, replaces = replaces,
      schema = recordedSchema(withHidden, partCols)))
    Some(id)
  }

  /** COMPACTS a stage: rewrites its current LIVE snapshot set as ONE
    * new snapshot (same partition layout, hidden transforms replayed
    * from their recorded SQL) that
    * `replaces` the originals — Iceberg's rewrite_data_files +
    * manifest rewrite in one step. This is the maintenance operation
    * the streaming sink pattern needs: per-batch commits accumulate
    * thousands of tiny snapshots, and both read planning (O(snapshots)
    * manifest work) and scan granularity (one small file group per
    * batch) degrade until someone folds them. After compaction a
    * latest read plans ONE snapshot; as-of reads BELOW the compaction
    * id still see the original history (superseding is id-scoped);
    * marker reads keep serving the originals until [[expireReplaced]]
    * reclaims their data; replaying an already-compacted batch marker
    * is STILL a no-op (the ledger is raw manifests). The fold itself
    * is one read + one write of the stage's live data.
    *
    * Returns the new snapshot id, or None when there is nothing to
    * fold (≤ 1 live snapshot, or only empty ones) — which also makes a
    * crash-interrupted compact retry-safe: a completed compaction
    * leaves exactly one live snapshot, so the retry no-ops. */
  def compact(spark: SparkSession, stage: String): Option[Long] = {
    val live = liveManifests().filter(_.stage == stage)
    if (live.size <= 1 || live.forall(_.rows == 0)) return None
    val latest = live.last
    val hiddenReplay: Seq[(String, org.apache.spark.sql.Column)] =
      if (latest.hidden.isEmpty) Nil
      else {
        require(latest.hiddenExprs.length == latest.hidden.length,
          s"stage '$stage' uses hidden partitioning (${latest.hidden.mkString(",")}) " +
            "recorded without replayable transform SQL (pre-r5 manifest) — " +
            "compaction cannot reproduce the layout")
        latest.hidden.zip(latest.hiddenExprs).map { case (n, s) =>
          n -> org.apache.spark.sql.functions.expr(s) }
      }
    commit(read(spark, stage = Some(stage)), stage,
      marker = s"compact-$stage-upto-${latest.id}", partitionBy = latest.parts,
      hiddenPartitions = hiddenReplay, replaces = live.map(_.id))
  }

  /** Iceberg's remove-orphan-files: deletes DATA no manifest
    * references — the garbage a crash between data write and manifest
    * rename leaves behind (invisible to every reader by the commit
    * protocol, but it still occupies storage): whole `snap-<id>` /
    * `.tmp-snap-<id>` dirs without a manifest, and parquet files
    * inside the shared `part-<stage>` hive trees that no manifest's
    * file list claims. Safe under the store's concurrency contract:
    * `synchronized` serializes against same-JVM commits (a commit
    * holds the monitor from data write through manifest rename, so
    * vacuum can never see a half-committed snapshot), and the store
    * is single-driver across processes by assumption — do NOT run
    * vacuum from a second process while a first is committing.
    * Returns the number of filesystem entries removed. */
  def vacuumOrphans(): Int = synchronized {
    if (!Files.isDirectory(dataDir)) return 0
    val ms = manifests()
    val refDirs = ms.filter(_.files.isEmpty)
      .map(m => Paths.get(m.dir).toAbsolutePath.normalize).toSet
    val refFiles = ms.flatMap(_.files)
      .map(f => Paths.get(f).toAbsolutePath.normalize).toSet
    var removed = 0
    val top = Files.list(dataDir)
    val entries = try top.iterator().asScala.toList finally top.close()
    entries.foreach { e =>
      val abs = e.toAbsolutePath.normalize
      val name = e.getFileName.toString
      if (name.startsWith("part-")) {
        // shared hive tree: delete unreferenced parquet files only —
        // the tree itself hosts live snapshots at file granularity.
        // An ACTIVE tree with no file manifests yet (all its commits
        // crashed pre-manifest) still only loses unreferenced files.
        val walk = Files.walk(abs)
        val orphans = try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet") &&
            !refFiles.contains(p.toAbsolutePath.normalize))
          .toList finally walk.close()
        orphans.foreach { p => Files.delete(p); removed += 1 }
      } else if (!refDirs.exists(_.startsWith(abs)) &&
          !refFiles.exists(_.startsWith(abs))) {
        // snap-<id> or .tmp-snap-<id> dir that neither IS a referenced
        // dir nor CONTAINS one: bucketed commits' manifests point at
        // `snap-<id>/bucket=<b>` SUBDIRS, so membership alone would
        // classify their parent snap dir as orphaned and delete live
        // bucket data — containment (startsWith is path-component
        // based) keeps any dir with a referenced descendant
        rmTmpTree(abs)
        removed += 1
      }
    }
    removed
  }

  /** Iceberg's expire-snapshots, scoped to compaction: physically
    * deletes the DATA of snapshots a compaction has superseded,
    * reclaiming the storage the fold duplicated. Manifests are KEPT as
    * tombstones — the marker ledger must survive expiry or a replayed
    * batch id would re-commit (duplicate rows in every later read);
    * [[hasLiveData]] on an expired marker reports false, so resume
    * paths recompute instead of crashing. As-of reads below the
    * compaction horizon fail loudly after expiry (their data is gone —
    * the documented trade of reclaiming it). Returns the number of
    * snapshots whose data was removed. */
  def expireReplaced(stage: String): Int = synchronized {
    val superseded = manifests().flatMap(_.replaces).toSet
    val stageRoot = dataDir.resolve(s"part-$stage").toAbsolutePath.normalize
    manifests().filter(m => m.stage == stage && superseded.contains(m.id))
      .count { m =>
        if (m.files.nonEmpty) {
          // file-granular snapshot: its files live inside the SHARED
          // stage tree — delete exactly them, never the tree
          val present = m.files.map(Paths.get(_)).filter(Files.exists(_))
          present.foreach(Files.delete)
          present.nonEmpty
        } else {
          val d = Paths.get(m.dir).toAbsolutePath.normalize
          // zero-row partitioned commits record the shared root as
          // their dir — deleting it would destroy every snapshot
          d != stageRoot && Files.isDirectory(d) && { rmTmpTree(d); true }
        }
      }
  }

  private def rmTmpTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** Bucketed commit: writes `df` ONCE, `partitionBy(bucketCol)`, and
    * emits one manifest per bucket value pointing at that bucket's
    * hive partition subdir — per-partition lineage (rows, wall) from a
    * single scan of the input, instead of one scan per bucket. Buckets
    * whose marker is already committed are filtered OUT of the write
    * (resume = anti-join on committed markers, driver-side: the bucket
    * list is O(buckets), never O(corpus)). Per-bucket row counts come
    * from one `observe` on the write job. Zero-row buckets get a
    * manifest (marker recorded, rows=0) but no data dir — `read`
    * skips them. Returns the newly committed snapshot ids. */
  def commitBuckets(df: DataFrame, stage: String, bucketCol: String,
                    buckets: Seq[Int], markerFor: Int => String,
                    statsCol: Option[String] = None): Seq[Long] = synchronized {
    validateStageName(stage)
    val existing = manifests() // one listing: marker check AND next id
    val done = existing.map(_.marker).toSet
    val todo = buckets.filterNot(b => done.contains(markerFor(b)))
    if (todo.isEmpty) return Nil
    val t0 = System.nanoTime()
    val baseId = existing.lastOption.map(_.id).getOrElse(0L)
    val dir = dataDir.resolve(s"snap-${baseId + 1}")
    val obs = Observation(s"snap-${baseId + 1}-rows")
    // Per-bucket lineage from ONE observe on the write job: row count,
    // plus (when `statsCol` is given) the bucket's [min, max] source
    // range — the north-star manifest contract "source doc_id ranges,
    // stage, metrics". Non-numeric values observe as null and the
    // stats are simply omitted (conservative).
    val perBucket = todo.flatMap { b =>
      count(when(col(bucketCol) === b, 1)).as(s"rows_$b") +:
        statsCol.toSeq.flatMap { c => Seq(
          min(when(col(bucketCol) === b, col(c).try_cast("long"))).as(s"min_${c}_$b"),
          max(when(col(bucketCol) === b, col(c).try_cast("long"))).as(s"max_${c}_$b")) }
    }
    df.where(col(bucketCol).isin(todo: _*))
      .observe(obs, perBucket.head, perBucket.tail: _*)
      .write.mode("overwrite").partitionBy(bucketCol)
      .parquet(dir.toString)
    val counts = obs.get
    val jobWallMs = (System.nanoTime() - t0) / 1000000L
    val schema = recordedSchema(df, Seq(bucketCol))
    // one write JOB serves all buckets: each manifest carries its
    // per-bucket share (so summing wall across bucket manifests ≈ the
    // job wall, not N× it) plus the shared job wall and bucket count
    // in metrics for consumers that want the raw figure (ADVICE r2).
    todo.zipWithIndex.map { case (b, i) =>
      val id = baseId + 1 + i
      val stats = statsCol.toSeq.flatMap { c =>
        Seq(s"min_${c}_$b" -> s"min_$c", s"max_${c}_$b" -> s"max_$c").flatMap {
          case (obsKey, key) =>
            Option(counts(obsKey)).collect { case v: Long => key -> v }
        }
      }.toMap
      writeManifest(Manifest(id, dir.resolve(s"$bucketCol=$b").toString,
        stage, markerFor(b), counts(s"rows_$b").asInstanceOf[Long],
        jobWallMs / todo.size,
        Map("bucket" -> b.toLong, "job_wall_ms" -> jobWallMs,
          "job_buckets" -> todo.size.toLong) ++ stats, schema = schema))
      id
    }
  }

  /** Layout classification shared by [[read]] and the V2 catalog (one
    * set of rules, or the SQL surface and the programmatic one diverge
    * on which snapshots they serve): flat dirs — one multi-path scan —
    * and file groups — one file-list scan per stage layout root.
    * Zero-row snapshots (marker-only) contribute nothing. A snapshot
    * with rows and a recorded layout but no file list (the
    * pre-file-manifest partitioned layout) is neither, so it fails
    * loudly instead of dropping out of the read. */
  private[sources] def layoutGroups(ms: Seq[Manifest])
      : (Seq[String], Seq[(String, Seq[Manifest])]) = {
    val unlisted = ms.filter(m =>
      m.files.isEmpty && (m.parts.nonEmpty || m.hidden.nonEmpty) && m.rows > 0)
    require(unlisted.isEmpty,
      s"snapshot(s) ${unlisted.map(_.id).mkString(",")} in $root record a " +
        "partition layout but no file list — the pre-file-manifest partitioned " +
        "layout, which this store no longer reads")
    val flatDirs = ms.filter(m => m.parts.isEmpty && m.hidden.isEmpty)
      .map(_.dir).filter(d => Files.exists(Paths.get(d)))
    (flatDirs, ms.filter(_.files.nonEmpty).groupBy(_.dir).toSeq.sortBy(_._1))
  }

  /** The schema rule shared by [[read]] and the V2 catalog: the data
    * schema every manifest in `ms` records, served with no inference
    * job; None when one records none or they disagree (a later commit
    * added columns), and the reader then merges the parquet footers
    * (see the layout note on [[SnapshotStore]]). */
  private[sources] def agreedSchema(ms: Seq[Manifest]): Option[StructType] =
    ms.map(_.schema).distinct match {
      case Seq(ddl) if ddl.nonEmpty => Some(StructType.fromDDL(ddl))
      case _ => None
    }

  /** Read the table as of snapshot `asOf` (inclusive), or latest, and
    * optionally only one `stage`. Flat snapshots are one multi-path
    * scan; partitioned snapshots are file-list scans over their stage's
    * shared hive tree (dir-based discovery cannot union several
    * partitioned roots; `basePath` restores the partition columns and
    * dir-level pruning). Mixed layouts combine via unionByName.
    *
    * The schema is the caller's `schema`, else the one the selected
    * manifests agree on ([[agreedSchema]]), else the merge of the
    * parquet footers: a stage whose later commits added columns serves
    * the unified schema, older rows read them as null, and layout
    * groups missing a column union with it null-filled.
    *
    * `marker`: select exactly the snapshot(s) committed under that
    * idempotence marker — the read half of marker-keyed resume (a
    * stage shared by several corpora/runs serves ONLY the requested
    * run's snapshot, not the union; see Dedup's sketch resume). */
  def read(spark: SparkSession, schema: Option[StructType] = None,
           asOf: Option[Long] = None, stage: Option[String] = None,
           keepHidden: Boolean = false,
           marker: Option[String] = None): DataFrame = {
    // a marker read is a RESUME read of one specific commit — it must
    // keep serving that snapshot even after a compaction supersedes it
    // (its data stays until expireReplaced); plain reads serve the
    // live set so a compacted stage is never double-served
    val ms0 = if (marker.isDefined) manifests() else liveManifests(asOf)
    val ms = ms0
      .filter(m => asOf.forall(m.id <= _))
      .filter(m => stage.forall(m.stage == _))
      .filter(m => marker.forall(m.marker == _))
    require(ms.nonEmpty, s"no snapshots in $root (asOf=$asOf, stage=$stage, marker=$marker)")
    // ADVICE r5: layoutGroups silently drops snapshots whose data dir
    // is gone, so a store-wide (or multi-snapshot) read where any OTHER
    // selected snapshot still has data would serve a partial union with
    // the expired snapshot's rows silently missing — only the
    // everything-gone case tripped the frames.nonEmpty require below.
    // A selected snapshot that committed rows but has no surviving data
    // location must fail the read loudly, exactly as expireReplaced's
    // as-of contract documents.
    val gone = ms.filter(m => m.rows > 0 &&
      (if (m.files.nonEmpty) m.files.exists(f => !Files.exists(Paths.get(f)))
       else !Files.exists(Paths.get(m.dir))))
    require(gone.isEmpty,
      s"snapshot(s) ${gone.map(_.id).mkString(",")} in $root committed rows but " +
        "have no surviving data (expired or externally wiped) — refusing to " +
        s"serve a partial union (asOf=$asOf, stage=$stage, marker=$marker)")
    val served = schema.orElse(agreedSchema(ms))
    def reader() = served.fold(spark.read.option("mergeSchema", "true"))(spark.read.schema)
    val (flatDirs, fileGroups) = layoutGroups(ms)
    val frames = (if (flatDirs.nonEmpty) Seq(reader().parquet(flatDirs: _*)) else Nil) ++
      fileGroups.map { case (layoutRoot, group) =>
        reader().option("basePath", layoutRoot).parquet(group.flatMap(_.files): _*)
      }
    require(frames.nonEmpty,
      s"all selected snapshots in $root are empty (asOf=$asOf, stage=$stage)")
    val df = frames.reduce(_.unionByName(_, allowMissingColumns = served.isEmpty))
    // hidden partition transforms are a LAYOUT property, not data —
    // serve the original schema unless the caller opts in (e.g. to
    // partition-filter before the scan; the filter then prunes hive
    // dirs exactly as a visible partition column would)
    val hiddenCols = ms.flatMap(_.hidden).distinct
    if (keepHidden || hiddenCols.isEmpty) df else df.drop(hiddenCols: _*)
  }

  /** Lineage table: one row per snapshot (SURVEY.md §1.3). */
  def lineage(spark: SparkSession): DataFrame = {
    import spark.implicits._
    manifests().map(m => (m.id, m.stage, m.marker, m.rows, m.wallMs))
      .toDF("snapshot_id", "stage", "marker", "rows", "wall_ms")
  }
}
