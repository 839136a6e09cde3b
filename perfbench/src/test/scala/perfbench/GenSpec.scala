package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val small = Workload.All.map(w => w.profile.copy(docs = 20))

  test("same seed and profile give byte-identical input files") {
    small.foreach { p =>
      val dirs = (0 until 2).map { _ =>
        val d = Files.createTempDirectory(s"gen-${p.name}")
        Gen.write(spark, Gen.corpus(p, 7L), d)
        d
      }
      assert(Io.files(dirs(0)) == 2, "one corpus file and one documents file")
      assert(Io.sameTree(dirs(0), dirs(1)), p.name)
      dirs.foreach(Io.rmTree)
    }
  }

  test("another seed gives other documents of the same shape") {
    small.foreach { p =>
      val a = Gen.corpus(p, 7L)
      val b = Gen.corpus(p, 8L)
      assert(a.docs != b.docs, p.name)
      assert(a.stats.docs == b.stats.docs)
    }
  }

  test("a batch of documents does not depend on the documents before it") {
    val p = small.head
    val all = Gen.corpus(p, 3L, firstDoc = 100L, n = 20)
    val tail = Gen.corpus(p, 3L, firstDoc = 110L, n = 10)
    assert(all.docs.drop(10) == tail.docs)
  }

  test("surfaces are 30 distinct tokens the filler vocabulary never uses") {
    assert(Gen.Surfaces.distinct.size == Gen.NumSurfaces)
    assert(Gen.Surfaces.forall(s => s.length >= 4 && s.matches("[a-z]+")))
    val vocab = Gen.vocabulary(Gen.Sparse.vocab).toSet
    assert(vocab.size == Gen.Sparse.vocab)
    assert(Gen.Surfaces.forall(s => !vocab.contains(s)))
  }

  test("the derived gazetteer is exactly the generated surface set") {
    small.foreach { p =>
      val d = Files.createTempDirectory(s"gaz-${p.name}")
      Gen.write(spark, Gen.corpus(p.copy(docs = p.docs * 5), 1L), d)
      val gaz = graft.kg.Stages.gazetteer(spark, d.toString).collect().map(_.getString(0)).toSet
      assert(gaz == Gen.Surfaces.toSet, p.name)
      Io.rmTree(d)
    }
  }
}
