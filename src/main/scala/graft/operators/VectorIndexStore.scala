package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet persistence for the ANN index families — the deployment shape
  * the reference's incremental doctrine implies for vector search: TRAIN
  * ONCE (k-means centroids, PQ codebooks — driver-side KB), persist them
  * beside the encoded corpus, then APPEND-ENCODE each new batch with the
  * frozen quantizers and serve queries from the stored index. Per-call
  * retraining (what ann4/ann5 did through round 5) burns minutes of
  * k-means per query at 100 TB; a stored index pays it once.
  *
  * Layout under `path/`:
  *   - `centroids/`  (cell INT, centroid ARRAY<DOUBLE>)        [IVF, IVFPQ]
  *   - `codebooks/`  (m INT, k INT, centroid ARRAY<DOUBLE>)    [PQ, IVFPQ]
  *   - `codes/`      buildIndex / buildIvfPqIndex rows, append-mode
  *
  * All writes go through a SUCCESS marker (`_graft_index_ready`) written
  * after the parquet commit, so a concurrent reader never sees a
  * half-built index.
  */
object VectorIndexStore {

  private def p(path: String, part: String) = s"$path/$part"
  private def marker(path: String) =
    java.nio.file.Paths.get(path, "_graft_index_ready")

  def exists(path: String): Boolean = java.nio.file.Files.exists(marker(path))

  // ───── PQ (flat ADC index: codes + stored vectors) ─────

  /** Train on the corpus, encode it, persist codebooks + codes. */
  def writePq(path: String, corpus: DataFrame,
      sampleSize: Int = 10000, iters: Int = 8): Unit = {
    val codebooks = PqIndex.train(corpus, sampleSize, iters)
    writeCodebooks(corpus.sparkSession, p(path, "codebooks"), codebooks)
    PqIndex.buildIndex(corpus, codebooks)
      .write.mode("overwrite").parquet(p(path, "codes"))
    touch(path)
  }

  /** Encode a new batch with the STORED codebooks and append — no
    * retraining, existing rows untouched (add-after-train).
    */
  def appendPq(spark: SparkSession, path: String, batch: DataFrame): Unit =
    PqIndex.buildIndex(batch, readCodebooks(spark, p(path, "codebooks")))
      .write.mode("append").parquet(p(path, "codes"))

  /** Top-k from the stored PQ index. */
  def pqTopK(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, refine: Int = 32): DataFrame =
    PqIndex.pqTopKIndexed(queries, spark.read.parquet(p(path, "codes")),
      readCodebooks(spark, p(path, "codebooks")), k, refine)

  // ───── IVF (coarse cells over stored full vectors) ─────

  /** Quantize with the decimal-exact label-centroid coarse quantizer
    * (IvfIndex.fitExact — ann3's hash-checkable flavor; Lloyd remains
    * IVFPQ's coarse stage), assign cells, persist centroids + the
    * (neighbor_id, nv, cell) index rows. Same add-after-train shape as
    * PQ/IVFPQ: training happens once per corpus, not per query.
    */
  def writeIvf(path: String, corpus: DataFrame): Unit = {
    val cents = IvfIndex.fitExact(corpus)
    writeCentroidsKeyed(corpus.sparkSession, p(path, "centroids"), cents)
    IvfIndex.buildIndexExact(corpus, cents)
      .write.mode("overwrite").parquet(p(path, "codes"))
    touch(path)
  }

  /** Assign a new batch with the STORED (frozen) centroids and append —
    * incremental build == batch build because `buildIndexExact` is a
    * pure per-row projection given fixed centroids.
    */
  def appendIvf(spark: SparkSession, path: String, batch: DataFrame): Unit =
    IvfIndex.buildIndexExact(batch, readCentroidsKeyed(spark, p(path, "centroids")))
      .write.mode("append").parquet(p(path, "codes"))

  /** Top-k from the stored IVF index — no training on the query path.
    * nprobe default follows `ivfTopKIndexedExact` (6 — see its doc).
    */
  def ivfTopK(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int = 6): DataFrame =
    IvfIndex.ivfTopKIndexedExact(queries, spark.read.parquet(p(path, "codes")),
      readCentroidsKeyed(spark, p(path, "centroids")), k, nprobe)

  // ───── IVFPQ (coarse cells × residual codes) ─────

  /** Train coarse quantizer + residual codebooks, encode, persist all
    * three artifacts.
    */
  def writeIvfPq(path: String, corpus: DataFrame, kClusters: Int = 16,
      sampleSize: Int = 10000, iters: Int = 8): Unit = {
    val centroids = IvfIndex.fitExactLloyd(corpus, kClusters, iters = 5)
    val codebooks = PqIndex.trainResiduals(corpus, centroids, sampleSize, iters)
    writeCentroids(corpus.sparkSession, p(path, "centroids"), centroids)
    writeCodebooks(corpus.sparkSession, p(path, "codebooks"), codebooks)
    PqIndex.buildIvfPqIndex(corpus, centroids, codebooks)
      .write.mode("overwrite").parquet(p(path, "codes"))
    touch(path)
  }

  def appendIvfPq(spark: SparkSession, path: String, batch: DataFrame): Unit =
    PqIndex.buildIvfPqIndex(batch,
        readCentroids(spark, p(path, "centroids")),
        readCodebooks(spark, p(path, "codebooks")))
      .write.mode("append").parquet(p(path, "codes"))

  /** Stored-index flavor from its on-disk artifacts: IVFPQ carries both
    * centroids and codebooks, plain IVF only centroids, PQ only
    * codebooks. (A two-way check misrouted a plain-IVF index to the
    * IVFPQ reader.)
    */
  def kind(path: String): String = {
    val cents = java.nio.file.Files.exists(java.nio.file.Paths.get(path, "centroids"))
    val cbs = java.nio.file.Files.exists(java.nio.file.Paths.get(path, "codebooks"))
    if (cents && cbs) "ivfpq" else if (cents) "ivf" else "pq"
  }

  /** Encode a batch into the stored index of whatever `kind` it is, with
    * its frozen quantizers (`index append` and its stream twin).
    */
  def append(spark: SparkSession, path: String, batch: DataFrame): Unit = kind(path) match {
    case "ivfpq" => appendIvfPq(spark, path, batch)
    case "ivf"   => appendIvf(spark, path, batch)
    case _       => appendPq(spark, path, batch)
  }

  def ivfPqTopK(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int = 4, refine: Int = 32): DataFrame =
    PqIndex.ivfPqTopKIndexed(queries, spark.read.parquet(p(path, "codes")),
      readCentroids(spark, p(path, "centroids")),
      readCodebooks(spark, p(path, "codebooks")), k, nprobe, refine)

  // ───── artifact (de)serialization — KB-sized tables ─────

  def writeCodebooks(spark: SparkSession, dir: String,
      codebooks: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cents, m) =>
      cents.zipWithIndex.map { case (c, k) => (m, k, c.toSeq) }
    }.toSeq.toDF("m", "k", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def readCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(dir)
      .select(col("m"), col("k"), col("centroid")).collect()
    val byM = rows.groupBy(_.getInt(0))
    Array.tabulate(byM.size) { m =>
      val cs = byM(m).sortBy(_.getInt(1))
      cs.map(_.getSeq[Double](2).toArray)
    }
  }

  def writeCentroids(spark: SparkSession, dir: String,
      centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def readCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    spark.read.parquet(dir).select(col("cell"), col("centroid")).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /** Keyed flavor for the exact-cell IVF: cell ids are label values, not
    * necessarily 0..k−1, so they persist explicitly.
    */
  def writeCentroidsKeyed(spark: SparkSession, dir: String,
      cents: Array[(Int, Array[Double])]): Unit = {
    import spark.implicits._
    cents.map { case (cell, c) => (cell, c.toSeq) }
      .toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def readCentroidsKeyed(spark: SparkSession, dir: String): Array[(Int, Array[Double])] =
    spark.read.parquet(dir).select(col("cell"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)

  private def touch(path: String): Unit = {
    try java.nio.file.Files.write(marker(path), Array.emptyByteArray)
    catch { case _: Throwable => () }
  }

  // ───── distributed build: frozen shard encode + merge ─────
  //
  // The 100 TB build protocol for every ANN flavor: train the quantizer
  // ONCE (centrally, on the corpus or a sample — the artifacts are KB),
  // hand the frozen artifacts to shard builders that each encode their
  // slice independently (encode is a pure per-row projection given
  // frozen artifacts, so shards need no cross-shard shuffle), then one
  // merge pass folds the shard code tables into the serving index. The
  // same train-once identity doctrine every other index merge in this
  // engine follows (reference anchor: the insert-if-absent identity
  // scan, main.py:142-163) — here it is load-bearing for CORRECTNESS,
  // not just cost: codes from independently-trained quantizers are
  // incomparable, which is why `merge` verifies artifact equality
  // bit-for-bit instead of trusting the caller.

  /** Shard-encode a batch into a NEW index at `path` against FROZEN
    * exact-cell centroids — the worker step of the distributed IVF
    * build. Identical artifacts land beside the codes, so the shard is
    * itself a complete servable index and `merge` can verify equality.
    */
  def writeIvfFrozen(path: String, batch: DataFrame,
      cents: Array[(Int, Array[Double])]): Unit = {
    writeCentroidsKeyed(batch.sparkSession, p(path, "centroids"), cents)
    IvfIndex.buildIndexExact(batch, cents)
      .write.mode("overwrite").parquet(p(path, "codes"))
    touch(path)
  }

  /** PQ sibling of `writeIvfFrozen`: shard-encode a batch against FROZEN
    * codebooks (trained ONCE, centrally — Lloyd over shard unions is
    * summation-order-sensitive, so unlike the exact-cell IVF quantizer
    * the PQ trainer CANNOT run per shard; the train-once/encode-anywhere
    * split is the whole protocol). The shard is a complete servable
    * index and `merge` verifies codebook equality before folding.
    */
  def writePqFrozen(path: String, batch: DataFrame,
      codebooks: Array[Array[Array[Double]]]): Unit = {
    writeCodebooks(batch.sparkSession, p(path, "codebooks"), codebooks)
    PqIndex.buildIndex(batch, codebooks)
      .write.mode("overwrite").parquet(p(path, "codes"))
    touch(path)
  }

  /** IVFPQ sibling: both frozen artifacts (coarse centroids + residual
    * codebooks) ship to the shard; encoding is a pure projection.
    */
  def writeIvfPqFrozen(path: String, batch: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Unit = {
    writeCentroids(batch.sparkSession, p(path, "centroids"), centroids)
    writeCodebooks(batch.sparkSession, p(path, "codebooks"), codebooks)
    PqIndex.buildIvfPqIndex(batch, centroids, codebooks)
      .write.mode("overwrite").parquet(p(path, "codes"))
    touch(path)
  }

  /** Merge another ANN index INTO this one — flavor-agnostic (pq / ivf /
    * ivfpq share the layout; the artifact dirs present determine the
    * flavor). Preconditions, each rejected loudly: both indexes complete,
    * same artifact structure (a PQ index cannot fold into an IVF one),
    * and the frozen artifacts bit-identical (codes encoded under
    * different quantizers are incomparable — that index needs a rebuild,
    * not a merge). Under those, codes are pure projections of the
    * embedding rows, so rows for a vector indexed by both shards are
    * identical and the merge IS a union + id-dedup (overlap-safe),
    * rewritten cell-clustered (the compactCodes layout) so probe-time
    * cell pruning survives the merge. Artifacts untouched; the codes
    * swap is atomic via ParquetTableStore.
    */
  def merge(spark: SparkSession, dstPath: String, srcPath: String): Unit = {
    require(exists(dstPath) && exists(srcPath),
      s"merge needs two complete indexes (marker missing): $dstPath, $srcPath")
    def artifactRows(pp: String, part: String): Set[Seq[Any]] =
      spark.read.parquet(p(pp, part)).collect()
        .map(_.toSeq.map {
          case s: scala.collection.Seq[_] => s.toVector
          case x => x
        }).toSet
    for (part <- Seq("centroids", "codebooks")) {
      val hd = java.nio.file.Files.exists(java.nio.file.Paths.get(dstPath, part))
      val hs = java.nio.file.Files.exists(java.nio.file.Paths.get(srcPath, part))
      require(hd == hs, s"merge needs identical index flavors: '$part' " +
        s"present in ${if (hd) "dst" else "src"} only")
      if (hd) require(artifactRows(dstPath, part) == artifactRows(srcPath, part),
        s"merge needs identical frozen $part — shards encoded under " +
          "different quantizers are incomparable (rebuild, don't merge)")
    }
    val store = new graft.etl.ParquetTableStore(spark, dstPath)
    val codes = store.read("codes")
    val idCol = if (codes.columns.contains("neighbor_id")) "neighbor_id" else "vec_id"
    val merged = codes
      .unionByName(spark.read.parquet(p(srcPath, "codes")))
      .dropDuplicates(idCol)
    store.overwrite("codes",
      if (codes.columns.contains("cell"))
        merged.repartitionByRange(32, col("cell")).sortWithinPartitions(col("cell"))
      else merged.coalesce(32))
  }

  /** Forget vectors — the takedown verb: codes are per-vector rows, so
    * the retraction is an anti-join on the id column, rewritten
    * cell-clustered (probe pruning survives). The frozen quantizer
    * artifacts stay as trained — they are corpus-level statistical
    * aggregates (centroids, codebooks), not per-row data, so serving
    * correctness matches a fresh frozen-artifact encode of the
    * remaining corpus exactly (spec-pinned); a deployment whose policy
    * forbids even aggregate influence retrains, which is a rebuild, not
    * a retract. `ids` is a one-column frame of vector ids.
    */
  def retract(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    val store = new graft.etl.ParquetTableStore(spark, path)
    val codes = store.read("codes")
    val idCol = if (codes.columns.contains("neighbor_id")) "neighbor_id" else "vec_id"
    val kept = codes.join(
      ids.select(col(ids.columns.head).as(idCol)), Seq(idCol), "left_anti")
    store.overwrite("codes",
      if (codes.columns.contains("cell"))
        kept.repartitionByRange(32, col("cell")).sortWithinPartitions(col("cell"))
      else kept.coalesce(32))
  }

  /** Compact the append-accumulated `codes` table back to a bounded
    * file count — the maintenance pass the daily appendPq/appendIvf
    * cadence needs (every append adds a file set; scan open cost grows
    * without bound). Content is unchanged; ParquetTableStore's tmp +
    * atomic-swap means a reader never observes a torn table, and the
    * frozen quantizer artifacts (centroids/codebooks — 1-file tables)
    * are untouched. Works for all three flavors (pq/ivf/ivfpq — they
    * share the `codes` layout).
    *
    * IVF flavors (any codes table carrying a `cell` column) compact
    * CLUSTERED BY CELL: rows repartition on cell and sort within files,
    * so every written file covers few cells and the probe-time
    * `cell IN (nprobe cells)` filter prunes whole files/row groups via
    * parquet min/max stats — append order interleaves cells and defeats
    * that pruning until the next compaction. Flat PQ has no cell; it
    * coalesces.
    */
  def compactCodes(spark: SparkSession, path: String,
      targetSplits: Int = 32): Unit = {
    val store = new graft.etl.ParquetTableStore(spark, path)
    val codes = store.read("codes")
    val rewritten =
      if (codes.columns.contains("cell"))
        // range partition: files cover DISJOINT contiguous cell ranges
        // (hash partitioning would interleave cells across every file)
        codes.repartitionByRange(targetSplits,
            org.apache.spark.sql.functions.col("cell"))
          .sortWithinPartitions(org.apache.spark.sql.functions.col("cell"))
      else codes.coalesce(targetSplits)
    store.overwrite("codes", rewritten)
  }

  // ───── build-once cache (the registry's deployment surface) ─────
  //
  // ann4/ann5 run against the index a deployment would keep warm; the
  // first invocation per corpus trains + persists it (under target/ — a
  // scratch artifact, not a repo file), later invocations only read.
  // Keyed by corpus dir + embeddings.parquet mtime (StateCache) so a
  // regenerated corpus rebuilds.

  private def cached(name: String, corpusDir: String)(build: String => Unit): String =
    graft.etl.StateCache.ensure(graft.etl.StateCache.indexRoot, name, corpusDir,
      "embeddings.parquet")(build)

  /** Stored-PQ path for a corpus dir, building it on first use. */
  def ensurePq(corpusDir: String, corpus: DataFrame): String =
    cached("pqx1", corpusDir)(writePq(_, corpus))

  /** Stored-IVF path for a corpus dir, building it on first use.
    * ("ivf2": quantizer version — exact label-centroid cells since the
    * ann3 hash-green graduation; a key bump orphans, never corrupts, a
    * cache holding the old Lloyd artifacts.)
    */
  def ensureIvf(corpusDir: String, corpus: DataFrame): String =
    cached("ivf2", corpusDir)(writeIvf(_, corpus))

  /** Stored-IVFPQ path for a corpus dir, building it on first use. */
  def ensureIvfPq(corpusDir: String, corpus: DataFrame): String =
    cached("ivfpqx1", corpusDir)(writeIvfPq(_, corpus))

  /** Merged IVF index for a corpus dir: the distributed-build protocol
    * end-to-end — exact-cell centroids trained ONCE over the shard
    * union (DECIMAL sums are order-exact, so this equals training on
    * the unsharded corpus regardless of shard layout; a deployment may
    * swap in a sample), each shard encoded independently against the
    * frozen artifacts, folded by `merge`. The StateCache marker, not
    * `_graft_index_ready` (true after the first `writeIvfFrozen`),
    * gates reuse, so a crash mid-fold never serves shard 0 alone.
    */
  def ensureMergedIvf(corpusDir: String, shards: Seq[DataFrame]): String =
    cached(s"mivf_${shards.size}", corpusDir) { p =>
      val cents = IvfIndex.fitExact(shards.reduce(_ unionByName _))
      graft.etl.StateCache.fold(p, shards)(writeIvfFrozen(_, _, cents))(
        merge(shards.head.sparkSession, _, _))
    }

  /** Merged flat-PQ index: `ensureMergedIvf`'s protocol on the PQ leg —
    * Lloyd codebooks train ONCE over the shard union (deterministic:
    * the sample is seeded by the lowest vec_ids, so the union trains
    * identically to the unsharded corpus), shards encode as pure
    * projections of the frozen codebooks, `merge` verifies codebook
    * equality bit-for-bit before folding. Registered (ann9) so the
    * PQ leg of the fold is bench- and PLANS-visible; codes can't hash
    * (Lloyd floats) — the spec pins merged == unsharded instead.
    */
  def ensureMergedPq(corpusDir: String, shards: Seq[DataFrame]): String =
    cached(s"mpqx1_${shards.size}", corpusDir) { p =>
      val codebooks = PqIndex.train(shards.reduce(_ unionByName _))
      graft.etl.StateCache.fold(p, shards)(writePqFrozen(_, _, codebooks))(
        merge(shards.head.sparkSession, _, _))
    }

  /** Merged IVFPQ index: both frozen artifacts (Lloyd coarse centroids +
    * residual codebooks) train once over the shard union; the rest is
    * the same fold.
    */
  def ensureMergedIvfPq(corpusDir: String, shards: Seq[DataFrame]): String =
    cached(s"mivfpqx1_${shards.size}", corpusDir) { p =>
      val union = shards.reduce(_ unionByName _)
      val centroids = IvfIndex.fitExactLloyd(union, 16, iters = 5)
      val codebooks = PqIndex.trainResiduals(union, centroids)
      graft.etl.StateCache.fold(p, shards)(writeIvfPqFrozen(_, _, centroids, codebooks))(
        merge(shards.head.sparkSession, _, _))
    }
}
