package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{ParquetTableStore, StateCache}

/** Persisted band index over a fingerprint column — width-parameterized:
  * the 64-bit face (8 × 8-bit bands) is the shared core of the multimodal
  * perceptual-hash index (MediaIndexStore) and the text SimHash index
  * (d28); the b-bit MinHash face (16 × 32-bit bands over an 8-long packed
  * signature, see below) serves d6 (d29). For the 64-bit face:
  * `TextDedup.hammingBandPairs` re-bands the
  * whole corpus per run; this store persists each absorbed item's 8 band
  * rows once and serves an arriving batch with batch-shaped work (batch
  * bands join the stored bands on (band, band_val); only colliding
  * stored rows leave the scan). Recall is the same pigeonhole as the
  * batch operator: hamming ≤ 7 over 8 bands forces ≥ 1 identical band,
  * and banding is a pure function of the hash — no frozen-order
  * subtlety at all (contrast DedupIndexStore's df ordering).
  *
  * Input rows are (doc_id: long, hash64: long); output pairs are
  * (id_a, id_b, hamming) — identical to `hammingBandPairs`.
  *
  * Layout (journaled ParquetTableStore):
  *   bands  (band, band_val, doc_id, hash64) — 8 rows per absorbed item,
  *          BUCKET-ENCODED on (band, band_val); hash64 rides along so
  *          candidate verification is an inline xor/bit_count, never a
  *          second corpus join. doc_id is the re-serve guard (the
  *          SuffixIndexStore doctrine): serve anti-joins the batch's own
  *          ids out of the stored side, so re-serving an absorbed batch
  *          reproduces the pre-absorb answer — append idempotent up to
  *          harmless duplicate rows (candidates are dropDuplicates'd),
  *          streaming replay exactly-once with no guard table.
  *   meta   (max_hamming) — 1 row, frozen at build.
  *
  * Reference anchor: generalizes the content-hash identity the reference
  * dedups on at load time (`main.py:142-163`) to near-identity over any
  * 64-bit sketch.
  */
object HammingIndexStore {

  val tables: Seq[String] = Seq("meta", "bands")
  val nBuckets: Int = 32
  private val bucketCols = Seq("band", "band_val")

  /** 8 × 8-bit band rows per signature — identical banding to
    * `TextDedup.hammingBandPairs` (the pigeonhole contract both sides
    * of every served pair rely on).
    */
  private def banded(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("hash64"),
        posexplode(array((0 until 8).map(k =>
          shiftright(col("hash64"), k * 8).bitwiseAND(0xFFL)): _*)))
      .select(col("doc_id"), col("hash64"),
        col("pos").as("band"), col("col").as("band_val"))

  def build(store: ParquetTableStore, sig: DataFrame, maxHamming: Int): Unit = {
    require(maxHamming <= 7, "band recall is exact only for hamming <= 7")
    store.stageBucketed("bands", banded(sig), bucketCols, nBuckets)
    val spark = sig.sparkSession
    import spark.implicits._
    store.stage("meta", Seq(maxHamming).toDF("max_hamming"))
    store.commitStaged(tables)
  }

  def append(store: ParquetTableStore, sig: DataFrame): Unit =
    store.appendBucketed("bands", banded(sig), bucketCols, nBuckets)

  /** Forget documents — the takedown verb, face-agnostic (banding is a
    * pure per-row function, so removing a doc's band rows is EXACTLY
    * the store a build without it writes; spec-pinned). Unknown ids are
    * a no-op. One journaled commit; meta untouched.
    */
  def retract(store: ParquetTableStore, ids: DataFrame): Unit = {
    store.stageBucketed("bands",
      store.readBucketed("bands", bucketCols, nBuckets)
        .join(ids.select(col("doc_id")), Seq("doc_id"), "left_anti"),
      bucketCols, nBuckets)
    store.commitStaged(Seq("bands"))
  }

  def compact(store: ParquetTableStore): Unit =
    store.compactBucketed("bands", bucketCols, nBuckets)

  /** Merge another band index INTO this one — the distributed-build
    * path (shard corpora indexed independently, folded into the serving
    * index; the DedupIndexStore.merge doctrine). Banding is a pure
    * function of the signature, so the merge IS a union: no frozen
    * order to reconcile, rows for a doc indexed by both shards are
    * bitwise identical and dropDuplicates on (doc_id, band) keeps one
    * copy. FACE-AGNOSTIC — the 64-bit and b-bit faces share the table
    * layout, differing only in meta schema and the signature column, so
    * the guard is structural: both metas must be the same single row
    * (same threshold semantics) and both band tables the same schema (a
    * 64-bit index merged into a b-bit one would silently produce
    * never-colliding band_vals — rejected loudly instead). One
    * journaled commit; `src` read-only.
    */
  def merge(dst: ParquetTableStore, src: ParquetTableStore): Unit = {
    val (md, ms) = (dst.read("meta"), src.read("meta"))
    require(md.schema == ms.schema && md.head() == ms.head(),
      s"merge needs identical index faces/parameters: dst meta " +
        s"${md.head()} (${md.schema.simpleString}) vs src ${ms.head()} " +
        s"(${ms.schema.simpleString})")
    val (bd, bs) = (dst.readBucketed("bands", bucketCols, nBuckets),
      src.readBucketed("bands", bucketCols, nBuckets))
    require(bd.schema.map(f => (f.name, f.dataType)) ==
        bs.schema.map(f => (f.name, f.dataType)),
      s"band schemas differ: ${bd.schema.simpleString} vs ${bs.schema.simpleString}")
    dst.stageBucketed("bands",
      bd.unionByName(bs).dropDuplicates("doc_id", "band"),
      bucketCols, nBuckets)
    dst.commitStaged(Seq("bands"))
  }

  /** Near-dup pair delta for an arriving batch of signatures vs
    * (indexed corpus ∪ batch): output = `hammingBandPairs` over the
    * union, restricted to pairs touching the batch (spec-pinned).
    */
  def pairsIncremental(store: ParquetTableStore, sig: DataFrame): DataFrame = {
    val maxHamming = store.read("meta").head().getInt(0)
    val inc = sig.localCheckpoint(true)
    val bInc = banded(inc)
    val stored = store.readBucketed("bands", bucketCols, nBuckets)
      .join(inc.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    val newOld = bInc.as("a").join(stored.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"),
        bit_count(col("a.hash64").bitwiseXOR(col("b.hash64"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val newNew = TextDedup.hammingBandPairs(
        inc.select(col("doc_id"), col("hash64").as("simhash")), maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    newOld.unionByName(newNew).dropDuplicates("id_a", "id_b")
  }

  // ───── b-bit MinHash face (width-parameterized banding) ─────
  //
  // The same store shape over a WIDER signature: d6's b-bit MinHash is
  // an ARRAY of 8 packed longs (64 × 8-bit values), banded as 16 ×
  // 32-bit slices (TextDedup.bbitBands — the identical slicing d6's
  // batch operator uses). Everything else is the 64-bit doctrine
  // unchanged: 16 stored band rows per absorbed item bucketed on
  // (band, band_val), sig rides along so candidate verification is an
  // inline agreement count, doc_id anti-join is the re-serve guard.
  // The only genuinely new parameter is the band width; recall is d6's
  // own banding by construction (the served candidates ARE the batch
  // operator's candidates restricted to batch-touching pairs), and the
  // collision-corrected estimate filter judges candidates exactly.
  // meta freezes `min_est` at build — a serve at a looser threshold
  // than the build's would be fine here (banding doesn't depend on the
  // threshold), but freezing keeps one number authoritative, matching
  // d6's registered parameters.

  val tablesBbit: Seq[String] = Seq("meta", "bands")

  private def bandedBbit(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sig"),
        posexplode(array(TextDedup.bbitBands(col("sig")): _*)))
      .select(col("doc_id"), col("sig"),
        col("pos").as("band"), col("col").as("band_val"))

  def buildBbit(store: ParquetTableStore, sig: DataFrame, minEst: Double): Unit = {
    store.stageBucketed("bands", bandedBbit(sig), bucketCols, nBuckets)
    val spark = sig.sparkSession
    import spark.implicits._
    store.stage("meta", Seq(minEst).toDF("min_est"))
    store.commitStaged(tablesBbit)
  }

  def appendBbit(store: ParquetTableStore, sig: DataFrame): Unit =
    store.appendBucketed("bands", bandedBbit(sig), bucketCols, nBuckets)

  /** Near-dup pair delta for an arriving batch of b-bit signatures vs
    * (indexed corpus ∪ batch): output = `bbitMinhashPairs` over the
    * union, restricted to pairs touching the batch (spec-pinned).
    */
  def pairsIncrementalBbit(store: ParquetTableStore, sig: DataFrame): DataFrame = {
    val minEst = store.read("meta").head().getDouble(0)
    val inc = sig.localCheckpoint(true)
    val bInc = bandedBbit(inc)
    val stored = store.readBucketed("bands", bucketCols, nBuckets)
      .join(inc.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    val newOld = bInc.as("a").join(stored.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"),
        graft.functions.TextSketches.bbitAgree(col("a.sig"), col("b.sig"))
          .as("n_agree"))
      .withColumn("est", TextDedup.bbitEst(col("n_agree")))
      .filter(col("est") >= minEst)
      .select(col("id_a"), col("id_b"),
        floor(col("est") * 1000000d).cast(org.apache.spark.sql.types.LongType)
          .as("est_micro"))
    val newNew = TextDedup.bbitSigPairs(inc, minEst)
    newOld.unionByName(newNew).dropDuplicates("id_a", "id_b")
  }

  // ───── build-once serving state (registered-query / bench surface) ─────

  private def cached(spark: SparkSession, name: String, corpusDir: String)(
      build: String => Unit): ParquetTableStore =
    new ParquetTableStore(spark, StateCache.ensure(StateCache.dedupRoot, name,
      corpusDir, "documents.parquet")(build))

  /** `tag` separates coexisting indexes over the same corpus (e.g. the
    * perceptual-hash index and the SimHash index both key on
    * documents.parquet's mtime).
    */
  def ensure(spark: SparkSession, corpusDir: String, sig: DataFrame,
      maxHamming: Int, tag: String): ParquetTableStore =
    cached(spark, s"hband1_${tag}_$maxHamming", corpusDir) { p =>
      build(new ParquetTableStore(spark, p), sig, maxHamming)
    }

  /** Merged 64-bit-face store for a corpus dir — shard signatures are
    * banded independently, folded via `merge` (the
    * DedupIndexStore.ensureMerged protocol): cached per (dir, mtime,
    * tag, shard count).
    */
  def ensureMerged(spark: SparkSession, corpusDir: String,
      shards: Seq[DataFrame], maxHamming: Int,
      tag: String): ParquetTableStore =
    cached(spark, s"hbandm_${shards.size}_${tag}_$maxHamming", corpusDir) { p =>
      StateCache.fold(p, shards)((sp, sh) =>
          build(new ParquetTableStore(spark, sp), sh, maxHamming))(
        (d, s) => merge(new ParquetTableStore(spark, d), new ParquetTableStore(spark, s)))
    }

  /** b-bit flavor of `ensure` (its own key prefix — the meta schema and
    * band width differ from the 64-bit stores).
    */
  def ensureBbit(spark: SparkSession, corpusDir: String, sig: DataFrame,
      minEst: Double, tag: String): ParquetTableStore =
    cached(spark, s"bband1_${tag}_${(minEst * 1000).toInt}", corpusDir) { p =>
      buildBbit(new ParquetTableStore(spark, p), sig, minEst)
    }

  /** b-bit flavor of `ensureMerged` — shard signatures banded
    * independently at the same minEst, folded by the face-agnostic
    * `merge` (identical metas, identical band schema ⇒ the fold is a
    * union + (doc_id, band) dedup, row-identical to the unsharded
    * build).
    */
  def ensureMergedBbit(spark: SparkSession, corpusDir: String,
      shards: Seq[DataFrame], minEst: Double,
      tag: String): ParquetTableStore =
    cached(spark, s"bbandm_${shards.size}_${tag}_${(minEst * 1000).toInt}", corpusDir) { p =>
      StateCache.fold(p, shards)((sp, sh) =>
          buildBbit(new ParquetTableStore(spark, sp), sh, minEst))(
        (d, s) => merge(new ParquetTableStore(spark, d), new ParquetTableStore(spark, s)))
    }
}
