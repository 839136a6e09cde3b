package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Small filesystem helpers for the benchmark's work directories. */
object Io {
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.iterator().asScala.toList finally s.close() }

  def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else { val s = Files.walk(dir); try s.iterator().asScala.toList finally s.close() }

  def rmTree(dir: Path): Unit =
    walk(dir).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)

  private def regular(dir: Path): Seq[Path] = walk(dir).filter(Files.isRegularFile(_))

  /** Total bytes of the regular files under `dir`. */
  def bytes(dir: Path): Long = regular(dir).map(Files.size).sum

  /** Number of regular files under `dir`. */
  def files(dir: Path): Long = regular(dir).size.toLong

  /** Whether two trees hold the same relative file names with the same
    * bytes. */
  def sameTree(a: Path, b: Path): Boolean = {
    def rel(root: Path) = regular(root).map(p => root.relativize(p).toString).sorted
    val names = rel(a)
    names.nonEmpty && names == rel(b) && names.forall(n =>
      java.util.Arrays.equals(Files.readAllBytes(a.resolve(n)), Files.readAllBytes(b.resolve(n))))
  }
}
