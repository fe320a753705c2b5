package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{ParquetTableStore, StateCache}

/** Persisted prefix/postings index for INCREMENTAL near-dup and
  * containment joins — the piece that removes the last corpus-sized term
  * from the per-batch dedup cost.
  *
  * `prefixFilterPairsIncremental` / `containmentPairsIncremental` already
  * avoid the corpus self-join, but they still RE-SHINGLE the whole
  * existing corpus every batch (explode + window to rebuild its prefix
  * rows, plus a corpus-wide re-shingle for verification). At 100 TB that
  * scan dominates everything else. This store persists, once:
  *
  *   - `freq`        (s, df)      — document frequencies, FROZEN at build
  *   - `prefix_jac`  (s, doc_id)  — Jaccard-threshold prefix postings
  *   - `prefix_cont` (s, doc_id)  — containment-threshold prefix postings
  *   - `postings`    (s, doc_id)  — full shingle postings (the containment
  *                                  join's right side has no prefix bound)
  *   - `sets`        (doc_id, sh) — per-doc shingle arrays for exact
  *                                  verification
  *
  * and serves each arriving batch with BATCH-SIZED work only: shingle the
  * batch, rank its prefixes under the frozen order, join against the
  * stored posting tables, verify candidates against the stored sets. New
  * docs then APPEND under the same frozen order — no table is ever
  * rebuilt (the VectorIndexStore add-after-train doctrine applied to the
  * dedup join fabric).
  *
  * Correctness of the frozen order: the prefix-filter recall theorem
  * needs only that BOTH docs of a compared pair rank their shingles under
  * one COMMON total order. Here that order is (df₀ asc, shingle asc) with
  * df₀ the build-time frequency (0 for shingles unseen at build — they
  * sort first, and a zero-df shingle is by definition in no stored
  * posting, so its early exposure costs nothing). Every doc ever indexed
  * — at build or in any later append — uses the identical order, so every
  * qualifying pair collides on ≥ 1 prefix shingle and exact verification
  * makes the final pairs EQUAL the full-recompute ones (DedupIndexSpec
  * pins both families). Staleness of a frozen df is a cost concern only
  * (prefixes drift away from rarest-first as the corpus grows → more
  * candidates, never fewer final pairs); a deployment re-freezes by
  * rebuilding at major compactions. Containment recall does not involve
  * the order at all (per-doc pigeonhole over the FULL posting side).
  *
  * Crash safety: `build` publishes all five tables as one journaled group
  * commit (ParquetTableStore.commitStaged). `append` is idempotent up to
  * harmless duplicates: `sets` — the only table where a duplicate row
  * would corrupt output (verification joins it) — doubles as the replay
  * guard (docs already in `sets` are filtered from the batch) and is
  * appended LAST; the candidate-side tables tolerate duplicate rows
  * because candidates are always `dropDuplicates`'d before verification.
  * A crash between appends therefore degrades to extra candidate rows,
  * never to wrong pairs (DedupIndexSpec injects exactly this crash).
  *
  * Reference anchor: the reference dedups on exact content hash at load
  * time (`main.py:142-163`); this family generalizes that identity
  * doctrine to near-duplicate text at corpus scale.
  */
object DedupIndexStore {

  val tables: Seq[String] =
    Seq("meta", "freq", "prefix_jac", "prefix_cont", "postings", "sets")

  /** Bucket layout: every shingle-keyed table buckets by `s`, the per-doc
    * set table by `doc_id`, 32 buckets. The serve joins key on exactly
    * these columns, so the STORED side of each join arrives
    * pre-partitioned (no corpus-sized exchange per batch — the growth
    * term the 12× scaling probe caught in d24); only batch-sized sides
    * shuffle. meta (1 row) stays plain.
    */
  val nBuckets: Int = 32
  private val bucketCols: Map[String, Seq[String]] = Map(
    "freq" -> Seq("s"), "prefix_jac" -> Seq("s"), "prefix_cont" -> Seq("s"),
    "postings" -> Seq("s"), "sets" -> Seq("doc_id"))

  private def readB(store: ParquetTableStore, name: String): DataFrame =
    store.readBucketed(name, bucketCols(name), nBuckets)

  /** Prune a stored shingle-keyed table to rows whose shingle MIGHT occur
    * in the batch side, via a KB Bloom bitmap over the batch's (hashed)
    * shingles — the d18 runtime-filter doctrine applied to the serve
    * joins: the stored side's join input shrinks from corpus-sized to
    * ~batch-overlap-sized before any sort/join work, for the price of
    * one batch-sized aggregation. No false negatives (xxhash64 + Bloom),
    * so recall is untouched; the narrow filter preserves the bucket
    * partitioning the join co-locates on. Applied only when `prune` —
    * the caller's size gate: a batch comparable to the corpus overlaps
    * nearly every shingle, so the bitmap would filter nothing and its
    * build would be pure overhead.
    */
  private def shinglePruned(stored: DataFrame, batch: DataFrame,
      prune: Boolean): DataFrame =
    if (!prune) stored
    else {
      val keys = batch.select(xxhash64(col("s")).as("sh64"))
      stored.filter(RuntimeFilter.mightContain(
        RuntimeFilter.bloomBytes(keys, "sh64", expectedKeys = 1L << 17, fpp = 0.01),
        xxhash64(col("s"))))
    }

  /** The prune gate: batch ≤ 1/8 of the indexed corpus (row counts of
    * `sets` are metadata-cheap). Deployment batches (daily slice vs a
    * 100 TB corpus) always pass; the registered bench queries feed a
    * half-corpus "batch" and correctly skip. Callers hand in the batch
    * row count they already have (the serve paths pin the batch with a
    * localCheckpoint and count the cached blocks) — no extra batch job.
    */
  private def smallBatch(store: ParquetTableStore, batchRows: Long): Boolean =
    batchRows * 8L <= store.read("sets").count()

  /** Under the prune gate, pin the candidate pairs (they are
    * batch-overlap-sized — KB) and Bloom-prune the stored `sets` table to
    * candidate endpoints before verification: without this the verify
    * stage sorts/intersects the whole corpus-sized set table twice per
    * serve — the LAST corpus-shaped term in the serve cost. The
    * checkpoint makes candidate generation run exactly once (the bloom
    * build reads the pinned rows, not the join plan).
    */
  private def verifyInputs(store: ParquetTableStore, cands0: DataFrame,
      prune: Boolean): (DataFrame, DataFrame) =
    if (!prune) (readB(store, "sets"), cands0)
    else {
      val cands = cands0.localCheckpoint(true)
      val ids = cands.select(col("id_a").as("id"))
        .unionByName(cands.select(col("id_b").as("id")))
      (RuntimeFilter.bloomPruneLong(readB(store, "sets"), ids, "doc_id", "id",
        expectedKeys = 1L << 16, fpp = 0.01), cands)
    }

  /** Compact every bucket-encoded table back to ~one file per bucket —
    * the maintenance pass the daily append cadence needs (each append
    * adds files per bucket; scan open cost and the per-bucket merge
    * width grow with them). Content is unchanged, so per-table (rather
    * than group) atomicity is enough: a crash between table swaps
    * leaves a mix of compacted and uncompacted tables, every one of
    * them correct and every serve join still bucket-co-located.
    */
  def compact(store: ParquetTableStore): Unit =
    tables.filter(bucketCols.contains).foreach { name =>
      store.compactBucketed(name, bucketCols(name), nBuckets)
    }

  /** Batch prefix rows under the FROZEN (df₀ asc, shingle asc) order:
    * per doc keep the first |s| − ⌈t·|s|⌉ + 1 shingles. Shingles unseen
    * at build time get df₀ = 0 (see object doc for why that is sound).
    */
  private def prefixFrozen(sh: DataFrame, frozenFreq: DataFrame, t: Double): DataFrame = {
    val wRank = Window.partitionBy(col("doc_id")).orderBy(col("df0"), col("s"))
    // serve paths hand in SIZED shingle rows (sz carried from the array
    // at explode time); build/refreeze read staged (doc_id, s) postings
    // and pay the unordered-count window once per (re)build — never per
    // serve. The sz values are identical (distinct-shingle array size ==
    // per-doc row count), so prefixes and the sizeOk filter match.
    // CONTRACT (dispatch is on the column's presence): an `sz` column, if
    // present, MUST be the per-doc distinct-shingle count, i.e. the frame
    // came from TextDedup.shingleRowsSized or this store's own tables —
    // an unrelated `sz` would silently shrink/grow every prefix. Enforced
    // shape-wise here; callers are package-local and spec-pinned
    // (DedupIndexSpec serve == from-scratch equalities would catch drift).
    require(sh.columns.count(_ == "sz") <= 1,
      "prefixFrozen: ambiguous duplicate 'sz' columns")
    val sized =
      if (sh.columns.contains("sz")) sh
      else sh.withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    sized.join(frozenFreq, Seq("s"), "left")
      .withColumn("df0", coalesce(col("df"), lit(0L)))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("doc_id"), col("s"), col("sz"))
  }

  private def shingleSets(docs: DataFrame, n: Int): DataFrame =
    Par.fan(docs).select(col("doc_id"),
      TextDedup.shingles(col("text"), n).as("sh"))

  /** Build the index over a corpus and publish atomically. One shingle
    * pass feeds frequencies, postings, and both prefix projections; the
    * five tables land as a single journaled group commit so a reopened
    * store sees all-or-nothing.
    */
  def build(store: ParquetTableStore, docs: DataFrame, n: Int,
      tJac: Double, tCont: Double): Unit = {
    // stage() returns a DataFrame over the staged files, so the derived
    // tables read the materialized shingle rows instead of re-exploding;
    // the shingle-keyed tables stage BUCKETED (see bucketCols) so every
    // later serve join reads them pre-partitioned on its join key
    val sh = store.stageBucketed("postings", TextDedup.shingleRows(docs, n),
      bucketCols("postings"), nBuckets)
    val freq = store.stageBucketed("freq",
      sh.groupBy(col("s")).agg(count(lit(1)).as("df")),
      bucketCols("freq"), nBuckets)
    store.stageBucketed("prefix_jac", prefixFrozen(sh, freq, tJac),
      bucketCols("prefix_jac"), nBuckets)
    store.stageBucketed("prefix_cont", prefixFrozen(sh, freq, tCont),
      bucketCols("prefix_cont"), nBuckets)
    store.stageBucketed("sets", shingleSets(docs, n),
      bucketCols("sets"), nBuckets)
    val spark = docs.sparkSession
    import spark.implicits._
    store.stage("meta", Seq((n, tJac, tCont)).toDF("n", "t_jac", "t_cont"))
    store.commitStaged(tables)
  }

  /** Re-freeze the prefix order from the CURRENT corpus frequencies —
    * the maintenance pass the frozen-df staleness cost calls for (object
    * doc: prefixes drift away from rarest-first as the corpus grows →
    * more candidates, never fewer pairs; a deployment re-freezes at
    * major compactions). Everything derives from the stored `sets`
    * table — the index's only text-derived primary data — so no corpus
    * re-read, no re-shingle: shingle rows are explode(sets) (per-doc
    * arrays are already distinct), the new `freq` is their groupBy, and
    * both prefix projections re-rank under the new (df asc, s asc)
    * order. `postings`, `sets`, `meta` are unchanged by construction.
    * Published as one journaled group commit, so a crash leaves either
    * the old frozen order or the new one, never a mix (a mixed order
    * would break the common-total-order premise of the recall theorem).
    * DedupIndexSpec pins the strongest form: a refrozen store's three
    * derived tables and its serves EQUAL a store freshly built over the
    * same corpus.
    */
  def refreeze(store: ParquetTableStore): Unit = {
    val m = store.read("meta").head()
    val (tJac, tCont) = (m.getDouble(1), m.getDouble(2))
    val sh = store.stageBucketed("postings",
      readB(store, "sets").select(col("doc_id"), explode(col("sh")).as("s"))
        .select(col("doc_id"), col("s")),
      bucketCols("postings"), nBuckets)
    val freq = store.stageBucketed("freq",
      sh.groupBy(col("s")).agg(count(lit(1)).as("df")),
      bucketCols("freq"), nBuckets)
    store.stageBucketed("prefix_jac", prefixFrozen(sh, freq, tJac),
      bucketCols("prefix_jac"), nBuckets)
    store.stageBucketed("prefix_cont", prefixFrozen(sh, freq, tCont),
      bucketCols("prefix_cont"), nBuckets)
    store.commitStaged(Seq("postings", "freq", "prefix_jac", "prefix_cont"))
  }

  /** Merge another index INTO this one — the distributed-build path: at
    * 100 TB the corpus is sharded across sources/dates, each shard runs
    * `dedupidx build` independently (embarrassingly parallel, no
    * cross-shard shuffle), and one merge pass folds the shard indexes
    * into the serving index. The derivation is the refreeze doctrine
    * over the UNION of the primary data: `sets` is each index's only
    * text-derived table, so merged sets = union (per-doc rows are
    * identical wherever shards overlap — same text, same n — so
    * dropDuplicates on doc_id keeps either copy), and postings / freq /
    * both prefix projections re-derive from it exactly as a fresh build
    * over the union corpus would (DedupIndexSpec pins all five tables
    * AND the serves equal a fresh union build). The two shard orders
    * are NOT concatenated — prefixes re-rank under the merged
    * frequencies, so the common-total-order premise of the recall
    * theorem holds by construction, and the merged order is the
    * freshest possible one (a merge doubles as a refreeze). Parameters
    * must match: shard indexes built at different n or thresholds have
    * incompatible prefix semantics, rejected loudly. One journaled
    * group commit; `src` is read-only throughout.
    *
    * Cost: one exchange over the union's shingle rows (the groupBy +
    * two prefix rankings share it via the staged postings) — the same
    * exchange a fresh build pays, minus the corpus text re-read and
    * re-shingle explode, plus a bucketed read of the stored `sets`. At
    * test SF both are table-rewrite-bound (probe: merge 1.36× / 1.22×
    * one fresh build at sf0.01 / sf0.1, trending down as the text term
    * grows); the protocol's real scale win is upstream — the N shard
    * builds are embarrassingly parallel with no cross-shard shuffle,
    * so the corpus-sized tokenize/shingle work distributes across
    * source clusters and only this one fold runs centrally.
    */
  def merge(dst: ParquetTableStore, src: ParquetTableStore): Unit = {
    val md = dst.read("meta").head()
    val ms = src.read("meta").head()
    require(md.getInt(0) == ms.getInt(0) && md.getDouble(1) == ms.getDouble(1) &&
        md.getDouble(2) == ms.getDouble(2),
      s"merge needs identical index parameters: dst (n=${md.getInt(0)}, " +
        s"tJac=${md.getDouble(1)}, tCont=${md.getDouble(2)}) vs " +
        s"src (n=${ms.getInt(0)}, tJac=${ms.getDouble(1)}, tCont=${ms.getDouble(2)})")
    val (tJac, tCont) = (md.getDouble(1), md.getDouble(2))
    val sets = dst.stageBucketed("sets",
      readB(dst, "sets").unionByName(readB(src, "sets"))
        .dropDuplicates("doc_id"),
      bucketCols("sets"), nBuckets)
    restage(dst, sets, tJac, tCont)
  }

  /** Forget documents — the takedown verb (a source leaves the corpus
    * for licensing/contamination reasons and every derived index must
    * stop serving it). `sets` is the only text-derived table, so the
    * retraction is an anti-join on it plus the same re-derivation a
    * merge runs: postings/freq/both prefix orders re-rank under the
    * remaining frequencies, so the retracted store equals a fresh build
    * over the remaining corpus TABLE BY TABLE (spec-pinned) — no
    * tombstones, no recall caveat, no corpus re-read. Retracting ids
    * the index never held is a no-op by the same derivation. One
    * journaled group commit.
    */
  def retract(store: ParquetTableStore, ids: DataFrame): Unit = {
    val m = store.read("meta").head()
    val sets = store.stageBucketed("sets",
      readB(store, "sets")
        .join(ids.select(col("doc_id")), Seq("doc_id"), "left_anti"),
      bucketCols("sets"), nBuckets)
    restage(store, sets, m.getDouble(1), m.getDouble(2))
  }

  /** Shared tail of merge/retract: re-derive every table from a staged
    * `sets` exactly as a fresh build would, one group commit.
    */
  private def restage(dst: ParquetTableStore, sets: DataFrame,
      tJac: Double, tCont: Double): Unit = {
    val sh = dst.stageBucketed("postings",
      sets.select(col("doc_id"), explode(col("sh")).as("s"))
        .select(col("doc_id"), col("s")),
      bucketCols("postings"), nBuckets)
    val freq = dst.stageBucketed("freq",
      sh.groupBy(col("s")).agg(count(lit(1)).as("df")),
      bucketCols("freq"), nBuckets)
    dst.stageBucketed("prefix_jac", prefixFrozen(sh, freq, tJac),
      bucketCols("prefix_jac"), nBuckets)
    dst.stageBucketed("prefix_cont", prefixFrozen(sh, freq, tCont),
      bucketCols("prefix_cont"), nBuckets)
    dst.commitStaged(Seq("sets", "postings", "freq", "prefix_jac", "prefix_cont"))
  }

  /** All qualifying Jaccard pairs WITHIN the indexed corpus, served from
    * stored tables only (a `prefix_jac` self-join + verification against
    * `sets` — no corpus re-read, no re-shingle). This is the bootstrap
    * path for ADOPTING an index that was built by `dedupidx build` but
    * never accumulated consumer state: `Curation.splitServe` pointed at
    * such a store derives the corpus's cluster labels once from these
    * pairs instead of throwing on the missing `clusters` table. Recall
    * is the standard prefix-filter theorem: every indexed doc ranked its
    * shingles under the SAME frozen order, so a qualifying pair collides
    * on ≥ 1 prefix shingle; exact verification then makes the output
    * EQUAL `prefixFilterPairs` over the indexed docs at the stored
    * threshold (spec-pinned). Corpus-shaped by nature — a one-time
    * adoption cost, not a per-wave serve.
    */
  def selfPairs(store: ParquetTableStore): DataFrame = {
    val tJac = store.read("meta").head().getDouble(1)
    val p = readB(store, "prefix_jac")
    val sizeOk =
      least(col("a.sz"), col("b.sz")).cast("double") >=
        lit(tJac) * greatest(col("a.sz"), col("b.sz")).cast("double")
    val cands = p.as("a").join(p.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") && sizeOk)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    TextDedup.verifyPairsSets(readB(store, "sets"), cands, tJac)
  }

  /** The stored prefix rows guarantee recall only for thresholds ≥ the
    * build-time one (a longer prefix covers a stricter threshold, never a
    * looser one) — reject a serve/append call that would silently lose
    * recall.
    */
  private def requireParams(store: ParquetTableStore, n: Int,
      t: Double, contSide: Boolean): Unit = {
    val m = store.read("meta").head()
    require(m.getInt(0) == n,
      s"index built with n=${m.getInt(0)}, asked n=$n")
    val built = if (contSide) m.getDouble(2) else m.getDouble(1)
    require(t >= built - 1e-12,
      f"index prefixes cover thresholds >= $built%.3f, asked $t%.3f")
  }

  /** Append a batch under the frozen order. Docs already indexed are
    * skipped (replay guard on `sets`); `sets` commits last (see object
    * doc for the crash-ordering argument). The frozen `freq` table is
    * NOT touched — that is the point. n and the thresholds come from the
    * stored `meta`, never from the caller: a batch indexed under
    * different parameters would silently poison recall for every later
    * serve.
    */
  def append(store: ParquetTableStore, incoming: DataFrame): Unit = {
    val m = store.read("meta").head()
    val (n, tJac, tCont) = (m.getInt(0), m.getDouble(1), m.getDouble(2))
    val fresh = incoming.join(
      readB(store, "sets").select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // pin the guard's verdict before tables move
    val sh = TextDedup.shingleRowsSized(fresh, n)
    val freq = readB(store, "freq")
    def appB(name: String, df: DataFrame): Unit =
      store.appendBucketed(name, df, bucketCols(name), nBuckets)
    appB("postings", sh.select(col("doc_id"), col("s")))
    appB("prefix_jac", prefixFrozen(sh, freq, tJac))
    appB("prefix_cont", prefixFrozen(sh, freq, tCont))
    appB("sets", shingleSets(fresh, n))
  }

  /** Near-dup pair delta for an arriving batch vs the indexed corpus —
    * `prefixFilterPairsIncremental` semantics with zero corpus-sized
    * work: every stage reads either the batch or a stored table. Output
    * schema/arithmetic = `jaccardPairs` (exact verification), final pairs
    * EQUAL the full-recompute incremental join.
    */
  def pairsIncremental(store: ParquetTableStore, incoming: DataFrame,
      n: Int, minJaccard: Double): DataFrame = {
    requireParams(store, n, minJaccard, contSide = false)
    // pin the batch once: the gate's count, both shingle passes, and the
    // verification's set build all read the cached blocks instead of
    // re-running the batch's upstream plan
    val inc = incoming.localCheckpoint(true)
    val prune = smallBatch(store, inc.count())
    val shNew = TextDedup.shingleRowsSized(inc, n)
    val pNew = prefixFrozen(shNew, readB(store, "freq"), minJaccard)
    val a = pNew.as("a")
    // PPJoin length filter: J(A,B) ≥ t forces |A∩B| ≥ t·|A∪B|, and with
    // |A∩B| ≤ min, |A∪B| ≥ max that needs min ≥ t·max — prune pairs whose
    // set sizes alone rule the threshold out, before they reach the
    // (array_intersect) verification. Sizes ride along in the prefix rows.
    val sizeOk =
      least(col("a.sz"), col("b.sz")).cast("double") >=
        lit(minJaccard) * greatest(col("a.sz"), col("b.sz")).cast("double")
    val newNew = a.join(pNew.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") && sizeOk)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val newOld = a.join(shinglePruned(readB(store, "prefix_jac"), pNew, prune).as("b"),
        col("a.s") === col("b.s") && sizeOk)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val cands0 = newNew.unionByName(newOld).dropDuplicates("id_a", "id_b")
    val (storedSets, cands) = verifyInputs(store, cands0, prune)
    TextDedup.verifyPairsSetsSplit(storedSets,
      shingleSets(inc, n), cands, minJaccard)
  }

  /** Containment pair delta for an arriving batch vs the indexed corpus —
    * `containmentPairsIncremental` semantics, batch-sized work only:
    * (batch prefixes × stored ∪ batch postings) plus (stored prefixes ×
    * batch postings), exact verification against stored sets.
    */
  def containmentIncremental(store: ParquetTableStore, incoming: DataFrame,
      n: Int, minContainment: Double): DataFrame = {
    requireParams(store, n, minContainment, contSide = true)
    val inc = incoming.localCheckpoint(true)
    val prune = smallBatch(store, inc.count())
    val shNew = TextDedup.shingleRowsSized(inc, n)
    val pNew = prefixFrozen(shNew, readB(store, "freq"), minContainment)
    // (no pair-level length filter here: containment only bounds the
    // container from BELOW — |B| ≥ t·|A| — and the posting side carries
    // no sizes; a tiny doc can sit inside an arbitrarily large one, so
    // the symmetric PPJoin prune does not apply)
    // the stored postings side joins SEPARATELY from the batch shingles
    // (not unioned first): a union would erase the stored side's bucket
    // partitioning and re-shuffle the corpus-sized postings every serve
    val newInStored = pNew.as("a")
      .join(shinglePruned(readB(store, "postings"), pNew, prune).as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val newInNew = pNew.as("a").join(shNew.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val oldInNew = shinglePruned(readB(store, "prefix_cont"), shNew, prune).as("a")
      .join(shNew.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val cands0 = newInStored.unionByName(newInNew).unionByName(oldInNew)
      .dropDuplicates("id_a", "id_b")
    val (storedSets, cands) = verifyInputs(store, cands0, prune)
    TextDedup.verifyContainmentSetsSplit(storedSets,
      shingleSets(inc, n), cands, minContainment)
  }

  // ───── build-once serving state (registered-query / bench surface) ─────

  private def cached(spark: SparkSession, name: String, corpusDir: String)(
      build: String => Unit): ParquetTableStore =
    new ParquetTableStore(spark, StateCache.ensure(StateCache.dedupRoot, name,
      corpusDir, "documents.parquet")(build))

  /** Index for a corpus dir, built on first use per (dir, mtime, params)
    * — later invocations (bench timed runs included) only read, which is
    * the deployment cost model.
    */
  def ensure(spark: SparkSession, corpusDir: String, docs: DataFrame,
      n: Int, tJac: Double, tCont: Double): ParquetTableStore =
    // "pidx3": layout version — shingle tables now bucket-encoded (by s /
    // doc_id); a key bump orphans (never corrupts) old caches
    cached(spark, s"pidx3_${n}_${(tJac * 1000).toInt}_${(tCont * 1000).toInt}",
        corpusDir) { p =>
      build(new ParquetTableStore(spark, p), docs, n, tJac, tCont)
    }

  /** Merged index for a corpus dir: each shard builds independently at
    * its own path, then folds into the first shard's store via `merge`
    * — the distributed-build protocol exercised end-to-end, cached per
    * (dir, mtime, params) like `ensure`.
    */
  def ensureMerged(spark: SparkSession, corpusDir: String,
      shards: Seq[DataFrame], n: Int, tJac: Double,
      tCont: Double): ParquetTableStore =
    cached(spark, s"pmrg1_${shards.size}_${n}_${(tJac * 1000).toInt}_" +
        s"${(tCont * 1000).toInt}", corpusDir) { p =>
      StateCache.fold(p, shards)((sp, sh) =>
          build(new ParquetTableStore(spark, sp), sh, n, tJac, tCont))(
        (d, s) => merge(new ParquetTableStore(spark, d), new ParquetTableStore(spark, s)))
    }

  /** Build-then-retract for a corpus dir, cached: the d33 serving
    * state — an index whose corpus lost `retractIds` after the build,
    * exercised end-to-end so the takedown path itself sits under the
    * driver's oracle gate, not just its spec.
    */
  def ensureRetracted(spark: SparkSession, corpusDir: String,
      corpus: DataFrame, retractIds: DataFrame, n: Int, tJac: Double,
      tCont: Double): ParquetTableStore =
    cached(spark, s"pret1_${n}_${(tJac * 1000).toInt}_${(tCont * 1000).toInt}",
        corpusDir) { p =>
      val store = new ParquetTableStore(spark, p)
      build(store, corpus, n, tJac, tCont)
      retract(store, retractIds)
    }
}
