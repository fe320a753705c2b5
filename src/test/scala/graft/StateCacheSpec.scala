package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.StateCache

/** The build-once cache contract every stored serving state relies on:
  * one build per (corpus file mtime, name), a marker written only after
  * the build, a clean rebuild after any crash, and shard folds that leave
  * no shard directory behind.
  */
class StateCacheSpec extends AnyFunSuite {

  /** A corpus dir holding one corpus file, and an empty cache root. */
  private def fixture(): (String, String) = {
    val base = Files.createTempDirectory("graft_state_cache")
    val corpus = Files.createDirectories(base.resolve("corpus"))
    Files.write(corpus.resolve("documents.parquet"), Array[Byte](1))
    (corpus.toString, base.resolve("cache").toString)
  }

  private def ensure(corpus: String, root: String)(build: String => Unit): String =
    StateCache.ensure(root, "t1_3", corpus, "documents.parquet")(build)

  private def write(dir: String, file: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, file), file.getBytes("UTF-8"))
  }

  private def names(dir: Path): Set[String] =
    Option(dir.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  /** A three-shard fold whose shard builds write `part-<i>` and whose
    * merge copies the shard's parts into the destination; `failAt`
    * throws in the fold of that shard.
    */
  private def foldThree(p: String, failAt: Option[Int] = None): Unit =
    StateCache.fold(p, Seq(0, 1, 2))((dst, i) => write(dst, s"part-$i")) { (dst, src) =>
      names(Paths.get(src)).foreach { f =>
        if (failAt.exists(i => f == s"part-$i")) throw new RuntimeException("fold crash")
        Files.copy(Paths.get(src, f), Paths.get(dst, f))
      }
    }

  test("two ensure calls build once, at the mtime-keyed path") {
    val (corpus, root) = fixture()
    var builds = 0
    def run() = ensure(corpus, root) { p => builds += 1; write(p, "data") }
    val p = run()
    assert(run() == p)
    assert(builds == 1)
    val mtime = new java.io.File(corpus, "documents.parquet").lastModified
    assert(p == s"$root/t1_3_${corpus.replaceAll("[^A-Za-z0-9.]", "_")}_$mtime")
    assert(names(Paths.get(p)).contains("data"))
  }

  test("a build that throws leaves no marker; the next call clears its files and builds once more") {
    val (corpus, root) = fixture()
    intercept[RuntimeException] {
      ensure(corpus, root) { p => write(p, "partial"); throw new RuntimeException("crash") }
    }
    var builds = 0
    var staleAtBuild = true
    def run() = ensure(corpus, root) { p =>
      builds += 1
      staleAtBuild = Files.exists(Paths.get(p, "partial"))
      write(p, "data")
    }
    val p = run()
    run()
    assert(builds == 1)
    assert(!staleAtBuild, "the crashed build's file was still there when the rebuild ran")
    assert(names(Paths.get(p)).filterNot(_.startsWith("_")) == Set("data"))
  }

  test("a three-shard fold leaves no shard dir; a crash in the fold of shard 2 rebuilds everything") {
    val (corpus, root) = fixture()
    intercept[RuntimeException](ensure(corpus, root)(foldThree(_, failAt = Some(2))))
    val siblings = () => names(Paths.get(root))
    assert(siblings().exists(_.contains("-shard")), "the crash left no shard dir to clear")

    var builds = 0
    var leftAtBuild = Set.empty[String]
    val p = ensure(corpus, root) { p =>
      builds += 1
      leftAtBuild = siblings()
      foldThree(p)
    }
    ensure(corpus, root)(_ => builds += 1)
    assert(builds == 1)
    assert(leftAtBuild.isEmpty, s"the rebuild started over $leftAtBuild")
    assert(siblings() == Set(Paths.get(p).getFileName.toString))
    assert(names(Paths.get(p)).filterNot(_.startsWith("_")) == Set("part-0", "part-1", "part-2"))
  }

  test("a new corpus mtime gives a new path and a rebuild") {
    val (corpus, root) = fixture()
    var builds = 0
    def run() = ensure(corpus, root) { p => builds += 1; write(p, "data") }
    val p1 = run()
    val file = new java.io.File(corpus, "documents.parquet")
    assert(file.setLastModified(file.lastModified - 60000L))
    val p2 = run()
    assert(p2 != p1)
    assert(builds == 2)
    assert(run() == p2)
    assert(builds == 2)
  }
}
