package graft.kg

import scala.util.Random

import graft.SparkSuite

/** Differential test (SURVEY.md §5.2): both paths of the Dataset CC
  * (driver-local union-find and the forced distributed loop) vs a
  * union-find oracle on seeded random graphs, including chains
  * (deep diameter), a super-node (skew), and isolated self-referential
  * shapes; invariance under edge direction and permutation.
  */
class ConnectedComponentsSpec extends SparkSuite {

  private def ufComponents(edges: Seq[(String, String)]): Map[String, String] =
    NaiveOracle.canonical(edges)

  private def run(algo: String, edges: Seq[(String, String)]): Map[String, String] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val out = algo match {
      case "alt" => ConnectedComponents.alternating(df) // local union-find fast path
      case "altDist" => // distributed large-star/small-star, forced
        ConnectedComponents.alternating(df, localThreshold = 0L)
    }
    out.collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  private def randomGraph(rnd: Random, n: Int, m: Int): Seq[(String, String)] =
    (0 until m).map { _ =>
      (f"n${rnd.nextInt(n)}%03d", f"n${rnd.nextInt(n)}%03d")
    }.filter(e => e._1 != e._2)

  test("alternating ≡ union-find on random graphs (both the local fast path and the forced distributed loop)") {
    val rnd = new Random(99L)
    for (round <- 0 until 4) {
      val edges = randomGraph(rnd, 25, 30)
      assert(run("alt", edges) == ufComponents(edges), s"round $round: $edges")
      assert(run("altDist", edges) == ufComponents(edges), s"round $round dist: $edges")
    }
  }

  test("deep chain collapses to its min (log-round convergence shape)") {
    val chain = (0 until 24).map(i => (f"c${i + 1}%02d", f"c$i%02d"))
    val got = run("alt", chain)
    assert(got.values.toSet == Set("c00"))
    assert(got.keySet.size == 25)
  }

  test("super-node star (skew) plus separate component") {
    val star = (1 to 30).map(i => (f"s$i%02d", "hub"))
    val other = Seq(("z2", "z1"))
    val got = run("alt", star ++ other)
    assert(got("hub") == "hub" && got("s07") == "hub")
    assert(got("z2") == "z1" && got("z1") == "z1")
  }

  test("invariant under edge direction and permutation") {
    val rnd = new Random(7L)
    val edges = randomGraph(rnd, 15, 18)
    val flipped = rnd.shuffle(edges.map { case (a, b) => (b, a) })
    assert(run("alt", edges) == run("alt", flipped))
  }

  test("local and distributed paths agree on LONG ids (type + ordering)") {
    import spark.implicits._
    // both paths' labels, after checking they agree and keep the id type
    def labels(df: org.apache.spark.sql.DataFrame): Map[Any, Any] = {
      val idT = df.schema("src").dataType
      val Seq(local, dist) = Seq(ConnectedComponents.LocalEdgeThreshold, 0L)
        .map(t => ConnectedComponents.alternating(df, localThreshold = t))
      for (out <- Seq(local, dist)) assert(out.schema.map(_.dataType) == Seq(idT, idT))
      val Seq(l, d) = Seq(local, dist).map(_.collect().map(r => r.get(0) -> r.get(1)).toMap)
      assert(l == d, df.schema.simpleString)
      l
    }
    // {9, 10} in one component: numeric min = 9, but a string-casting
    // local path would pick "10" (lexicographic) — ADVICE r2
    assert(labels(Seq((10L, 9L), (9L, 11L), (3L, 2L)).toDF("src", "dst")) ==
      Map(10L -> 9L, 9L -> 9L, 11L -> 9L, 3L -> 2L, 2L -> 2L))
    assert(labels(Seq((10, 9), (9, 11), (3, 2)).toDF("src", "dst")) ==
      Map(10 -> 9, 9 -> 9, 11 -> 9, 3 -> 2, 2 -> 2))
    // U+1D538 is the surrogate pair D835 DD38: Java's String.compareTo
    // puts it below U+E000, but its UTF-8 bytes (F0 9D 94 B8) sort above
    // U+E000's (EE 80 80), and Spark's min follows the bytes
    val (hi, lo) = ("\uD835\uDD38", "\uE000")
    assert(labels(Seq((hi, lo)).toDF("src", "dst")) == Map(hi -> lo, lo -> lo))
  }

  test("the local path reads the edges in one Spark job") {
    import spark.implicits._
    // a range needs a job to compute, unlike a local relation; the
    // edges i+1 → i/2 join 0..200 into one tree
    val edges = spark.range(0, 200)
      .select(($"id" + 1).as("src"), ($"id" / 2).cast("long").as("dst"))
    val (out, jobs) = jobsStarted(ConnectedComponents.alternating(edges))
    assert(jobs == 1)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 201 && got.forall(_._2 == 0L))
  }

  test("null endpoints are dropped identically on both paths") {
    import spark.implicits._
    val df = Seq((Some("b"), Some("a")), (None, Some("x")), (Some("y"), None))
      .toDF("src", "dst")
    def m(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expected = Set(("a", "a"), ("b", "a"))
    assert(m(ConnectedComponents.alternating(df)) == expected)
    assert(m(ConnectedComponents.alternating(df, localThreshold = 0L)) == expected)
  }

  test("reliable-checkpoint branch: distributed loop with a checkpoint dir set ≡ union-find") {
    import spark.implicits._
    // setCheckpointDir is SparkContext-global (shared across suites):
    // restore it afterwards or every later suite silently stops
    // covering the localCheckpoint branch production uses here.
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("cc-ckpt").toString)
    try {
      val rnd = new scala.util.Random(99)
      val edges = (0 until 300).map(_ => (s"n${rnd.nextInt(60)}", s"n${rnd.nextInt(60)}"))
      val df = edges.toDF("src", "dst")
      def m(x: org.apache.spark.sql.DataFrame) =
        x.collect().map(r => (r.getString(0), r.getString(1))).toMap
      // forced distributed → every materializeRound goes through the
      // durable checkpoint path (recoverable after executor loss)
      assert(m(ConnectedComponents.alternating(df, localThreshold = 0L)) ==
        m(ConnectedComponents.alternating(df)))
    } finally org.apache.spark.graftbridge.TestListenerBridge
      .clearCheckpointDir(spark.sparkContext)
  }
}
