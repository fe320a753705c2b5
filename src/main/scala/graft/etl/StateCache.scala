package graft.etl

import java.nio.file.{Files, Paths}

/** Build-once-per-corpus cache for derived state — the deployment cost
  * model of every stored index, cluster table and mart the registered
  * queries serve from: the first call for a corpus builds, later calls
  * (bench timed runs included) only read.
  *
  *   - Key: `<root>/<name>_<corpusDir, [^A-Za-z0-9.] → _>_<mtime of
  *     corpusDir/file>`. Callers put their layout version and parameters
  *     in `name` (`pidx3_3_800_800`), so a regenerated corpus or a layout
  *     bump gets a new path and orphans, never corrupts, the old one.
  *   - Completion: one marker file, written with plain file I/O only
  *     after the build returns. Without it, whatever sits at the path and
  *     at its `-shard*` siblings is deleted before the build, so a crash
  *     anywhere in a multi-step build is followed by a clean rebuild and
  *     a partial state or fold is never served.
  *   - Lock: one JVM monitor around check, build and marker. Monitors are
  *     reentrant, so a build that itself ensures another state cannot
  *     deadlock.
  */
object StateCache {

  /** Root of the dedup state: cluster, pair and keep tables, the lexical
    * dedup indexes and the semantic-dedup state.
    */
  val dedupRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_DEDUP_STATE_DIR", "target/graft-dedup-state")

  /** Root of the serving indexes: ANN and BM25 indexes, the TPC-H Q1
    * mart state and the export loops.
    */
  val indexRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR", "target/graft-index")

  private val lock = new Object

  private def path(root: String, name: String, corpusDir: String, file: String): String = {
    val mtime = new java.io.File(corpusDir, file).lastModified
    s"$root/${name}_${corpusDir.replaceAll("[^A-Za-z0-9.]", "_")}_$mtime"
  }

  /** The state's path, after running `build(path)` unless a completed
    * build is already there.
    */
  def ensure(root: String, name: String, corpusDir: String, file: String)(
      build: String => Unit): String = lock.synchronized {
    val p = path(root, name, corpusDir, file)
    val ready = Paths.get(p, "_graft_state_ready")
    if (!Files.exists(ready)) {
      val dir = new java.io.File(p)
      val shards = Option(dir.getParentFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(dir.getName + "-shard"))
      (dir +: shards).foreach(f => ParquetTableStore.deleteStoreDir(f.getPath))
      build(p)
      Files.createDirectories(ready.getParent)
      Files.write(ready, Array.emptyByteArray)
    }
    p
  }

  /** The distributed-build protocol: shard 0 builds at `path`, shard i
    * at `path-shard<i>`, and each later shard folds into `path` and is
    * deleted (folded, it has no reader; kept, it would hold one corpus
    * copy per shard per key). A quantizer trained once over the shard
    * union is trained by the caller and closed over by `build`.
    */
  def fold[A](path: String, shards: Seq[A])(build: (String, A) => Unit)(
      merge: (String, String) => Unit): Unit = {
    require(shards.nonEmpty, "need at least one shard")
    build(path, shards.head)
    shards.tail.zipWithIndex.foreach { case (sh, i) =>
      val sp = s"$path-shard${i + 1}"
      build(sp, sh)
      merge(path, sp)
      ParquetTableStore.deleteStoreDir(sp)
    }
  }
}
