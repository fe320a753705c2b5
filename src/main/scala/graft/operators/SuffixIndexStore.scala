package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{ParquetTableStore, StateCache}

/** Persisted suffix-key state for INCREMENTAL exact-substring dedup —
  * the DedupIndexStore doctrine applied to `SuffixDedup` (Lee et al.
  * 2022): `maxMatchSpans` re-sorts the ENTIRE corpus suffix table for
  * every run, a full corpus-sized shuffle per daily batch at 100 TB.
  * This store persists the corpus's capped suffix keys ONCE and serves
  * each arriving batch with batch-shaped work: the only corpus rows
  * that ever leave the stored-side scan are those sharing a `minLen`-
  * token prefix with some batch suffix.
  *
  * Layout under the store (journaled ParquetTableStore):
  *   suffix  (prefix, key, doc_id) — per-doc-DISTINCT capped suffix
  *           keys of the corpus, `prefix` = the first `minLen` tokens
  *           space-joined, BUCKET-ENCODED on prefix (32 buckets, files
  *           sorted by prefix): the serve union arrives groupable on
  *           prefix and the batch-prefix semi-join filters before any
  *           exchange. `doc_id` carries occurrence IDENTITY: serve
  *           anti-joins the arriving batch's ids out of the stored
  *           side, so re-serving an already-absorbed batch excludes its
  *           own stored copies instead of self-matching every position
  *           — which makes serve idempotent across `append` and the
  *           streaming twin replay-safe with NO guard table (doc_ids
  *           must be unique corpus-wide AND non-negative — −1 is the
  *           stored-row sentinel inside serveUnion; `suffixKeys`
  *           enforces the sign half with a raise_error guard).
  *   meta    (min_len, max_len) — 1 row, frozen at build; serve/append
  *           read the parameters from here (a batch indexed under
  *           different caps would silently corrupt match lengths).
  *
  * Why equality on the `minLen`-prefix loses nothing: a batch position
  * is emitted only when its maximal match is ≥ `minLen` tokens, and any
  * occurrence witnessing such a match shares the first `minLen` tokens
  * EXACTLY — so grouping by that prefix partitions the candidate space
  * with guaranteed recall (the pigeonhole is trivial here: the prefix
  * IS the first minLen tokens of both sides). Within a prefix group the
  * suffix-array adjacency property applies unchanged: sort the group's
  * keys, every key's best match is a sorted neighbor. Groups are
  * hash-complete within a partition, so — unlike the batch operator —
  * NO cross-partition boundary patching is needed.
  *
  * Why per-doc-DISTINCT corpus keys suffice: match lengths against a
  * SET of keys depend only on which keys are present (LCP is
  * insensitive to multiplicity), and corpus rows are never emitted —
  * only batch rows are. The same argument makes `append` idempotent up
  * to wasted space: replaying a batch duplicates stored rows, but a
  * duplicate can change no future match length, and the rows' own
  * doc_ids exclude them from any re-serve of that batch.
  *
  * Scale shape: serve cost = batch suffix rows (~batch tokens × 1,
  * positions kept) + stored rows in batch-touched prefix groups
  * (posting-list-shaped; hot-prefix skew is the documented growth term,
  * same caveat as DedupIndexStore postings) + ONE batch-shaped shuffle
  * to co-group them. The corpus-sized range sort of `maxMatchSpans` is
  * gone from the per-batch path entirely; the stored side is touched by
  * a columnar scan + semi-join filter, never a shuffle.
  *
  * Reference anchor: the reference dedups rows on exact content hash at
  * load (`main.py:142-163`); this pushes that exact-identity doctrine
  * below document grain incrementally, as DedupIndexStore does for
  * near-dup identity.
  */
object SuffixIndexStore {

  val tables: Seq[String] = Seq("meta", "suffix")
  val nBuckets: Int = 32
  private val bucketCols = Seq("prefix")

  private def readSuffix(store: ParquetTableStore): DataFrame =
    store.readBucketed("suffix", bucketCols, nBuckets)

  /** Capped suffix keys of a doc set — `SuffixDedup`'s suffix table plus
    * the minLen-prefix string. Keys shorter than `minLen` can never
    * witness or receive a reportable match and are dropped at the
    * source.
    */
  private def suffixKeys(docs: DataFrame, minLen: Int, maxLen: Int): DataFrame = {
    // doc_id ≥ 0 is a CONTRACT, enforced here (every build/append/serve
    // path derives keys through this): serveUnion marks stored-side rows
    // with sentinel doc_id = −1 and servedSpans emits only rows with
    // doc_id ≥ 0, so a negative input id would silently lose its spans
    // (and −1 itself would alias the sentinel). Zero extra jobs: the
    // check rides the existing projection as a codegen'd branch.
    val guardedId = when(col("doc_id") < 0, expr(
        "raise_error('SuffixIndexStore: doc_id must be non-negative " +
        "(-1 is the stored-row sentinel in serveUnion)')"))
      .otherwise(col("doc_id"))
    // one native eval per doc (shared-token-view suffix arrays) — the
    // transform/slice lambda ran interpreted per position
    Par.fan(docs)
      .select(guardedId.as("doc_id"), posexplode(
        graft.functions.TextSketches.suffixWindows(
          TextDedup.normalizeText(col("text")), maxLen)))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("p"),
        col("col").as("key"))
      .filter(size(col("key")) >= minLen)
      .withColumn("prefix", concat_ws(" ", slice(col("key"), 1, minLen)))
  }

  /** Build over a corpus, publish atomically (one journaled group
    * commit). The caps are frozen into `meta`.
    */
  def build(store: ParquetTableStore, corpus: DataFrame,
      minLen: Int, maxLen: Int): Unit = {
    require(minLen >= 1 && maxLen >= minLen, "need 1 <= minLen <= maxLen")
    store.stageBucketed("suffix",
      suffixKeys(corpus, minLen, maxLen)
        .select(col("prefix"), col("key"), col("doc_id"))
        .dropDuplicates("prefix", "key", "doc_id"),
      bucketCols, nBuckets)
    val spark = corpus.sparkSession
    import spark.implicits._
    store.stage("meta", Seq((minLen, maxLen)).toDF("min_len", "max_len"))
    store.commitStaged(tables)
  }

  /** Append a batch's keys under the frozen caps — a pure bucket-append
    * (new files beside the old; the bucket contract holds per file).
    * Per-doc distinct within the batch; a replayed append duplicates
    * rows harmlessly (see object doc) — not deduplicated here, because
    * a corpus-sized anti-join per append is exactly the cost this store
    * exists to avoid.
    */
  def append(store: ParquetTableStore, batch: DataFrame): Unit = {
    val m = store.read("meta").head()
    store.appendBucketed("suffix",
      suffixKeys(batch, m.getInt(0), m.getInt(1))
        .select(col("prefix"), col("key"), col("doc_id"))
        .dropDuplicates("prefix", "key", "doc_id"),
      bucketCols, nBuckets)
  }

  /** Rewrite the suffix table back to ~one file per bucket (the daily-
    * append maintenance pass — DedupIndexStore.compact's rationale).
    */
  def compact(store: ParquetTableStore): Unit =
    store.compactBucketed("suffix", bucketCols, nBuckets)

  /** Forget documents — the takedown verb: suffix rows are per
    * (prefix, key, doc_id), so removing a doc's rows is EXACTLY the
    * store a build without it writes (spec-pinned); retracted docs stop
    * contributing to every later span/scrub serve. Unknown ids are a
    * no-op. One journaled commit; caps untouched.
    */
  def retract(store: ParquetTableStore, ids: DataFrame): Unit = {
    store.stageBucketed("suffix",
      readSuffix(store)
        .join(ids.select(col("doc_id")), Seq("doc_id"), "left_anti"),
      bucketCols, nBuckets)
    store.commitStaged(Seq("suffix"))
  }

  /** Re-cap the frozen (minLen, maxLen) from the STORED keys with no
    * corpus re-read — the DedupIndexStore.refreeze doctrine applied to
    * the suffix state. TIGHTENING ONLY (newMinLen ≥ minLen, newMaxLen ≤
    * maxLen), and the asymmetry is fundamental, not an implementation
    * shortcut: stored keys are truncated at the old maxLen and
    * positions shorter than the old minLen were dropped at the source,
    * so loosening either cap needs tokens the store never kept — that
    * direction is a rebuild over the corpus by definition. Within the
    * supported direction the derivation is exact: slicing a stored key
    * to the new cap and re-deriving its prefix reproduces precisely the
    * keys a fresh build at the new caps would emit (every kept position
    * of every doc is represented by its old capped key; per-doc distinct
    * re-applied because two old keys can collapse under a shorter cap).
    * Published as one journaled group commit with the new `meta`, so a
    * crash leaves the old caps or the new ones, never keys under one
    * and meta under the other (SuffixSpec pins refrozen == fresh
    * build, table and serve).
    */
  def refreeze(store: ParquetTableStore, newMinLen: Int, newMaxLen: Int): Unit = {
    val m = store.read("meta").head()
    val (minLen, maxLen) = (m.getInt(0), m.getInt(1))
    require(newMinLen >= 1 && newMaxLen >= newMinLen,
      s"need 1 <= minLen <= maxLen, got min=$newMinLen max=$newMaxLen")
    require(newMinLen >= minLen && newMaxLen <= maxLen,
      s"refreeze only tightens: stored caps ($minLen, $maxLen), asked " +
        s"($newMinLen, $newMaxLen) — loosening needs the corpus (rebuild)")
    store.stageBucketed("suffix",
      readSuffix(store)
        .select(col("doc_id"), slice(col("key"), 1, newMaxLen).as("key"))
        .filter(size(col("key")) >= newMinLen)
        .withColumn("prefix", concat_ws(" ", slice(col("key"), 1, newMinLen)))
        .select(col("prefix"), col("key"), col("doc_id"))
        .dropDuplicates("prefix", "key", "doc_id"),
      bucketCols, nBuckets)
    val spark = store.read("meta").sparkSession
    import spark.implicits._
    store.stage("meta", Seq((newMinLen, newMaxLen)).toDF("min_len", "max_len"))
    store.commitStaged(tables)
  }

  /** Merge another suffix index INTO this one — the distributed-build
    * path (shard corpora indexed independently, folded into one serving
    * index). Caps need not match: both sides tighten IN the merge to
    * the common intersection (max of minLens, min of maxLens) via the
    * refreeze slicing, then union with per-doc-distinct dedup — so
    * merged == a fresh build over the union corpus at the common caps
    * (SuffixSpec pins table and serve). The intersection is the only
    * sound target: loosening either side would need tokens its store
    * never kept (the refreeze asymmetry), and an empty intersection is
    * rejected loudly. One journaled group commit (suffix + the new
    * meta); `src` read-only.
    */
  def merge(dst: ParquetTableStore, src: ParquetTableStore): Unit = {
    val (mdr, msr) = (dst.read("meta").head(), src.read("meta").head())
    val nMin = math.max(mdr.getInt(0), msr.getInt(0))
    val nMax = math.min(mdr.getInt(1), msr.getInt(1))
    require(nMin <= nMax,
      s"cap intersection empty: dst (${mdr.getInt(0)}, ${mdr.getInt(1)}) vs " +
        s"src (${msr.getInt(0)}, ${msr.getInt(1)}) — rebuild from the corpus")
    def capped(st: ParquetTableStore): DataFrame =
      readSuffix(st)
        .select(col("doc_id"), slice(col("key"), 1, nMax).as("key"))
        .filter(size(col("key")) >= nMin)
        .withColumn("prefix", concat_ws(" ", slice(col("key"), 1, nMin)))
        .select(col("prefix"), col("key"), col("doc_id"))
    dst.stageBucketed("suffix",
      capped(dst).unionByName(capped(src))
        .dropDuplicates("prefix", "key", "doc_id"),
      bucketCols, nBuckets)
    val spark = dst.read("meta").sparkSession
    import spark.implicits._
    dst.stage("meta", Seq((nMin, nMax)).toDF("min_len", "max_len"))
    dst.commitStaged(tables)
  }

  /** Maximal duplicated-span lengths for an arriving batch vs
    * (indexed corpus ∪ batch) — `SuffixDedup.maxMatchSpans` over the
    * union, restricted to the batch's positions, with zero corpus-sized
    * shuffles: output rows (doc_id, p, match_len ≥ minLen) EQUAL the
    * batch operator's rows for those doc_ids (SuffixSpec pins it).
    */
  def servedSpans(store: ParquetTableStore, incoming: DataFrame): DataFrame = {
    val m = store.read("meta").head()
    val minLen = m.getInt(0)
    val spark = incoming.sparkSession
    val parted = serveUnion(store, incoming)
    val schema = parted.schema
    val pfxIdx = schema.fieldIndex("prefix")
    val keyIdx = schema.fieldIndex("key")
    val docIdx = schema.fieldIndex("doc_id")
    val pIdx = schema.fieldIndex("p")
    // INTERNAL rows (see SuffixDedup): UTF8String prefix/key compares,
    // no per-token String decode, no Seq copies. Rows are copied out of
    // the sorter's reused buffer because the scan holds current + next.
    val out = org.apache.spark.sql.graftbridge.Bridge.toInternalRdd(parted)
      .mapPartitions { rawIt =>
        val buf = rawIt.map(_.copy()).buffered
        new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
          private var prevPfx: org.apache.spark.unsafe.types.UTF8String = null
          private var prevKey: org.apache.spark.sql.catalyst.util.ArrayData = null
          private var ready: org.apache.spark.sql.catalyst.InternalRow = null
          private def advance(): Unit = {
            while (ready == null && buf.hasNext) {
              val r = buf.next()
              val pfx = r.getUTF8String(pfxIdx)
              val k = r.getArray(keyIdx)
              val mPrev =
                if (prevPfx != null && prevPfx.equals(pfx))
                  SuffixDedup.lcpData(k, prevKey)
                else 0
              val mNext =
                if (buf.hasNext && buf.head.getUTF8String(pfxIdx).equals(pfx))
                  SuffixDedup.lcpData(k, buf.head.getArray(keyIdx))
                else 0
              prevPfx = pfx; prevKey = k
              val best = math.max(mPrev, mNext)
              if (r.getLong(docIdx) >= 0L && best >= minLen)
                ready = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](r.getLong(docIdx), r.getLong(pIdx), best.toLong))
            }
          }
          override def hasNext: Boolean = { advance(); ready != null }
          override def next(): org.apache.spark.sql.catalyst.InternalRow = {
            advance(); val r = ready; ready = null; r
          }
        }
      }
    org.apache.spark.sql.graftbridge.Bridge.internalCreateDataFrame(spark, out,
      StructType(Seq(
        StructField("doc_id", LongType), StructField("p", LongType),
        StructField("match_len", LongType))))
  }

  /** Scrub an arriving batch against the indexed corpus: served spans →
    * covered positions → rebuilt text, md5-pinned. Output contract =
    * `TextDedup.scrubDuplicatedSpans(corpus ∪ batch, n = minLen)`
    * restricted to the batch: a position is inside some maximal
    * duplicated span iff it is inside some duplicated minLen-window
    * (cover either direction by sliding a minLen-window inside the
    * span / extending the window to its maximal span), and the maxLen
    * cap preserves this because every in-run start still reports —
    * so the two covered sets coincide exactly (SuffixSpec pins it).
    * This is the "clean the incoming batch" deployment verb: the
    * corpus is assumed already scrubbed and is never rewritten.
    */
  def scrubServed(store: ParquetTableStore, incoming: DataFrame): DataFrame = {
    val spans = servedSpans(store, incoming)
    val covered = spans.select(col("doc_id"),
        explode(sequence(col("p"), col("p") + col("match_len") - 1)).as("p"))
      .distinct()
    val w = split(TextDedup.normalizeText(col("text")), " ")
    val toks = Par.fan(incoming).select(col("doc_id"), w.as("w"))
    TextDedup.rebuildExcluding(toks, covered)
  }

  /** The serve path's relational stage — everything before the neighbor
    * scan. Package-visible so PlanSpec can pin its contract (zero
    * corpus FileScans: the batch is pinned, the stored side is the only
    * table read; the scan that consumes this is pure RDD lineage).
    */
  private[graft] def serveUnion(store: ParquetTableStore,
      incoming: DataFrame): DataFrame = {
    val m = store.read("meta").head()
    val (minLen, maxLen) = (m.getInt(0), m.getInt(1))
    val spark = incoming.sparkSession
    // pin the batch suffixes once: the touched-prefix build, the union,
    // and the scan all read cached blocks (the serve-path doctrine)
    val inc = suffixKeys(incoming, minLen, maxLen)
      .select(col("doc_id"), col("p"), col("prefix"), col("key"))
      .localCheckpoint(true)
    val touched = inc.select(col("prefix")).distinct()
    // batch-touched corpus keys: broadcast semi-join (touched is
    // batch-sized) — the stored side is scanned columnar and filtered,
    // never shuffled. The anti-join on the batch's OWN ids (also
    // broadcast-sized) is the re-serve/replay guard: an absorbed
    // batch's stored copies must not self-match.
    val incIds = inc.select(col("doc_id")).distinct()
    val stored = readSuffix(store).join(touched, Seq("prefix"), "left_semi")
      .join(incIds, Seq("doc_id"), "left_anti")
      .select(col("prefix"), col("key"),
        lit(-1L).as("doc_id"), lit(-1L).as("p"))
    val union = stored.unionByName(
      inc.select(col("prefix"), col("key"), col("doc_id"), col("p")))
    val nPart = spark.sessionState.conf.numShufflePartitions
    // hash-partition by prefix: groups land whole, so the neighbor scan
    // needs no boundary patching; sort within partitions gives sorted
    // groups back-to-back
    union.repartition(nPart, col("prefix"))
      .sortWithinPartitions(col("prefix"), col("key"))
  }

  // ───── build-once serving state (registered-query / bench surface) ─────

  private def cached(spark: SparkSession, name: String, corpusDir: String)(
      build: String => Unit): ParquetTableStore =
    new ParquetTableStore(spark, StateCache.ensure(StateCache.dedupRoot, name,
      corpusDir, "documents.parquet")(build))

  /** Store for a corpus dir, built on first use per (dir, mtime, caps) —
    * later invocations (bench timed runs included) only read, which is
    * the deployment cost model.
    */
  def ensure(spark: SparkSession, corpusDir: String, corpus: DataFrame,
      minLen: Int, maxLen: Int): ParquetTableStore =
    // "sufx2": layout version — suffix rows carry doc_id since the
    // re-serve guard; a key bump orphans (never corrupts) old caches
    cached(spark, s"sufx2_${minLen}_$maxLen", corpusDir) { p =>
      build(new ParquetTableStore(spark, p), corpus, minLen, maxLen)
    }

  /** Merged store for a corpus dir — shards build independently at the
    * SAME caps, fold via `merge` (the DedupIndexStore.ensureMerged
    * protocol): cached per (dir, mtime, caps, shard count).
    */
  def ensureMerged(spark: SparkSession, corpusDir: String,
      shards: Seq[DataFrame], minLen: Int, maxLen: Int): ParquetTableStore =
    cached(spark, s"sufxm_${shards.size}_${minLen}_$maxLen", corpusDir) { p =>
      StateCache.fold(p, shards)((sp, sh) =>
          build(new ParquetTableStore(spark, sp), sh, minLen, maxLen))(
        (d, s) => merge(new ParquetTableStore(spark, d), new ParquetTableStore(spark, s)))
    }
}
