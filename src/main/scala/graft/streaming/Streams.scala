package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming flavor of the engine's incremental semantics
  * (SURVEY §2.9). Every transform here is written against a DataFrame so
  * the SAME code runs in batch (tests, backfill) and with readStream
  * (production): event-time windowed aggregation with watermark, CDC-style
  * dedup-by-content-hash against state, and stateful sessionization via
  * flatMapGroupsWithState.
  *
  * Scale notes: state is keyed by user/hash — partitioned by key hash
  * across executors; watermarks bound state size; Trigger.AvailableNow
  * gives the reference's daily-batch cadence with streaming exactly-once
  * bookkeeping.
  */
object Streams {

  /** events with ts as a proper timestamp column (source stores ns longs). */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("ts_utc",
      timestamp_micros(graft.functions.ColumnOps.intDiv(col("ts"), 1000L)))

  /** Tumbling event-time aggregation; on a stream add a watermark first:
    * withWatermark("ts_utc", "10 minutes"). Works unchanged in batch.
    */
  def tumblingCounts(events: DataFrame, width: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts_utc"), width).getField("start").as("bucket_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("value"), lit(0.0))).as("total_value"))

  /** Streaming CDC: drop rows whose content hash was already seen —
    * the streaming flavor of the reference's anti-join change detection.
    * State = one empty marker per distinct hash (bounded by watermark on
    * a stream; exact in batch).
    */
  def dedupByHash(withHash: DataFrame): DataFrame =
    withHash.dropDuplicates("payload_hash")

  /** Watermark-BOUNDED streaming dedup: per-hash state is dropped once the
    * watermark passes its event time + delay, so state size is
    * O(hashes per delay window) instead of O(all hashes ever) — plain
    * dropDuplicates on an unbounded stream is a slow-motion OOM. Use when
    * duplicates arrive close to the original (retries, at-least-once
    * sources); replays older than the delay are a reprocessing signal the
    * batch anti-join (ChangeScan) handles, not CDC.
    */
  def dedupByHashBounded(withHash: DataFrame, eventTimeCol: String = "received_at",
      delay: String = "1 hour"): DataFrame =
    withHash.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("payload_hash")

  /** Stream-static enrichment: join a record stream against a STATIC
    * dimension snapshot — the streaming flavor of the star join. The
    * static side re-plans per micro-batch (so a mart refresh is picked up
    * on the next batch) and broadcasts when small; no state store and no
    * watermark involved, unlike stream-stream joins.
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming twin of the 64-bit band-index serve (mm4/d28): signature
    * batches (doc_id, hash64) arrive as parquet files; each batch's
    * near-dup pair delta vs (everything absorbed so far ∪ batch) lands
    * at `outDir/batch=<id>` and the batch's 8 band rows are absorbed.
    * Exactly-once with NO guard table — the SuffixIndexStore doctrine:
    * the batch-id overwrite makes the pair write idempotent, serve
    * anti-joins the batch's own ids out of the stored side (so a replay
    * after a completed absorb re-serves the identical pre-absorb
    * answer), and a replayed absorb only duplicates band rows, which
    * candidates' dropDuplicates makes harmless.
    */
  def bandIndexStream(spark: org.apache.spark.sql.SparkSession, sigDir: String,
      store: graft.etl.ParquetTableStore, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.HammingIndexStore
    val schema = spark.read.parquet(sigDir).schema
    spark.readStream.schema(schema).parquet(sigDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.dropDuplicates("doc_id").localCheckpoint(true)
        if (!b.isEmpty) {
          HammingIndexStore.pairsIncremental(store, b)
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          HammingIndexStore.append(store, b)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming twin of INCREMENTAL DEDUP: documents arrive as parquet
    * files; each micro-batch generates only its delta pairs against the accumulated corpus
    * (`prefixFilterPairsIncremental` — the existing corpus never
    * self-joins) and merges them into the standing cluster labels by
    * contraction (`ccIncremental` — CC over a delta-sized reduced graph).
    * State tables: `corpus` (docs seen so far, append-only) and
    * `clusters` (labels, atomic-swap overwrite).
    *
    * Crash-safe: if a batch dies between the clusters swap and the corpus
    * append, the replayed batch's delta edges map through the
    * already-merged labels to self-loops and drop out — re-merging is
    * idempotent, so exactly-once state survives at-least-once replay.
    */
  def dedupStream(spark: org.apache.spark.sql.SparkSession, docsDir: String,
      store: graft.etl.TableStore, checkpointDir: String,
      threshold: Double = 0.8): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.TextDedup
    val schema = spark.read.parquet(docsDir).schema // footer-only read
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.dropDuplicates("doc_id")
        val existing =
          if (store.exists("corpus")) store.read("corpus") else b.limit(0)
        val prev =
          if (store.exists("clusters")) store.read("clusters")
          else b.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0)
        val delta = TextDedup.prefixFilterPairsIncremental(
          existing, b, n = 3, minJaccard = threshold)
        // overwrite materializes the merged labels (reading prev's files)
        // BEFORE the swap; the corpus append comes after, so a replayed
        // batch sees merged labels + pre-append corpus — idempotent.
        // The append itself skips docs already in corpus, so a replay
        // that crashed after the append can't duplicate corpus rows.
        store.overwrite("clusters", TextDedup.ccIncremental(prev, delta))
        store.append("corpus",
          b.join(existing.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming twin of INCREMENTAL CONTAINMENT KEEP (d22): each arriving
    * batch generates only its containment-pair delta against the
    * accumulated corpus (`containmentPairsIncremental` — corpus postings
    * never self-join) and merges container counts into the standing
    * decision table as abelian sums — old docs retro-flip to dropped
    * exactly when a new larger container arrives. State tables:
    * `corpus` (docs seen, append-only) and `containment` (decisions,
    * atomic-swap overwrite).
    *
    * Crash-safe EXACTLY-ONCE merge (counts are NOT idempotent under
    * re-merge, so the guards are load-bearing): a doc is "committed"
    * iff it has a row in the `containment` decision table, and the
    * commit order guarantees corpus ⊇ committed docs. So the merge
    * view of the existing corpus is corpus ∩ decisions (a crashed
    * attempt's premature corpus rows drop out), the batch delta is
    * batch ∖ decisions (a fully-committed replay shrinks to empty),
    * the corpus append skips rows already there (idempotent), and the
    * decision swap commits LAST — whatever the crash point, the replay
    * re-merges exactly the uncommitted delta, never twice, never zero.
    */
  def containmentStream(spark: org.apache.spark.sql.SparkSession, docsDir: String,
      store: graft.etl.TableStore, checkpointDir: String,
      threshold: Double = 0.8): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.TextDedup
    val schema = spark.read.parquet(docsDir).schema // footer-only read
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b0 = batch.dropDuplicates("doc_id")
        val corpusAll =
          if (store.exists("corpus")) store.read("corpus") else b0.limit(0)
        val prev =
          if (store.exists("containment")) store.read("containment")
          else TextDedup.containmentKeep(b0.limit(0), n = 3, minContainment = threshold)
        // committed view of the corpus: rows with a decision. A crash
        // after the corpus append but before the decision swap leaves
        // undecided corpus rows — they are re-merged as delta, not seen
        // as existing.
        val existing = corpusAll.join(prev.select(col("doc_id")), Seq("doc_id"), "left_semi")
        val b = b0.join(prev.select(col("doc_id")), Seq("doc_id"), "left_anti")
        // stage (materializes from pre-append corpus files), then append
        // the delta idempotently, then publish the decisions — commit
        // point is the decision swap, always last
        store.stage("containment", TextDedup.containmentKeepIncremental(
          prev, existing, b, n = 3, minContainment = threshold))
        store.append("corpus",
          b.join(corpusAll.select(col("doc_id")), Seq("doc_id"), "left_anti"))
        store.commitStaged(Seq("containment"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming twin of INCREMENTAL SPAN DUPLICATION (d15): documents
    * arrive as parquet files; each micro-batch runs
    * `TextDedup.duplicatedSpansIncremental` against the stored
    * posting-list state — grams crossing cnt 1→≥2 retro-update OLD
    * docs' served stats through one semi-join, everything else is
    * batch-sized. State tables: `span_corpus` (doc ids seen),
    * `span_postings` (doc, g, k — append-only), `span_freq` (g, cnt),
    * `span_stats` (the served per-doc table).
    *
    * Crash-safe: all four state tables publish as ONE journaled group
    * commit (`commitStaged`), so the seen-doc anti-join against
    * `span_corpus` is an exact replay guard — a crash can never leave
    * stats swapped but frequencies unabsorbed (or postings without
    * their corpus marker); a re-delivered batch shrinks to empty and
    * the rewrite is byte-identical. Postings/corpus become per-batch
    * copy-on-write rewrites — the price of group atomicity on a
    * swap-based store, not of the algorithm (a merge-on-read store
    * would append under the same manifest commit).
    */
  def spanStream(spark: org.apache.spark.sql.SparkSession, docsDir: String,
      store: graft.etl.TableStore, checkpointDir: String,
      n: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.TextDedup
    val schema = spark.read.parquet(docsDir).schema // footer-only read
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b0 = batch.dropDuplicates("doc_id")
        val seen = if (store.exists("span_corpus")) store.read("span_corpus")
          else b0.select(col("doc_id")).limit(0)
        val b = b0.join(seen, Seq("doc_id"), "left_anti")
        val empty = b.limit(0)
        val prevPostings =
          if (store.exists("span_postings")) store.read("span_postings")
          else TextDedup.spanPostings(empty, n)
        val prevFreq =
          if (store.exists("span_freq")) store.read("span_freq")
          else TextDedup.spanPostings(empty, n)
            .groupBy(col("g")).agg(sum(col("k")).as("cnt"))
        val prevStats =
          if (store.exists("span_stats")) store.read("span_stats")
          else TextDedup.duplicatedSpans(empty, n)
        val batchPostings = TextDedup.spanPostings(b, n)
        val stats = TextDedup.duplicatedSpansIncremental(
          prevPostings, prevFreq, prevStats, b, n)
        val mergedFreq = prevFreq.unionByName(
            batchPostings.groupBy(col("g")).agg(sum(col("k")).as("cnt")))
          .groupBy(col("g")).agg(sum(col("cnt")).as("cnt"))
        // every table stages from the OLD files, then the whole group
        // publishes in one journaled commit — no crash point can tear
        // stats/freq/postings/corpus apart
        store.stage("span_stats", stats)
        store.stage("span_freq", mergedFreq)
        store.stage("span_postings", prevPostings.unionByName(batchPostings))
        store.stage("span_corpus", seen.unionByName(b.select(col("doc_id"))))
        store.commitStaged(Seq("span_stats", "span_freq", "span_postings", "span_corpus"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming twin of the ANN index lifecycle's append path: embedding
    * batches arrive as parquet files and are encoded with the stored
    * FROZEN quantizers (pq or ivfpq auto-detected) — training never
    * re-runs, existing code rows are never touched, and queries served
    * from the index see each batch as soon as its micro-batch commits.
    * The index must already exist (`VectorIndexStore.writePq`/`writeIvfPq`
    * or `index build`).
    *
    * Delivery note: parquet append is NOT idempotent, so this surface is
    * exactly-once only up to Structured Streaming's file-source
    * bookkeeping (a crash INSIDE foreachBatch before checkpoint commit
    * replays the batch and double-encodes it). The dedup streams
    * route through idempotent merges instead; an index deployment that
    * needs hard exactly-once writes codes through a manifest commit —
    * batch-id-named files — which `etl.ManifestTableStore` provides.
    */
  def indexAppendStream(spark: org.apache.spark.sql.SparkSession, embDir: String,
      indexPath: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.VectorIndexStore
    val schema = spark.read.parquet(embDir).schema
    val cents = java.nio.file.Files.exists(
      java.nio.file.Paths.get(indexPath, "centroids"))
    val cbs = java.nio.file.Files.exists(
      java.nio.file.Paths.get(indexPath, "codebooks"))
    spark.readStream.schema(schema).parquet(embDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (cents && cbs) VectorIndexStore.appendIvfPq(spark, indexPath, batch)
        else if (cents) VectorIndexStore.appendIvf(spark, indexPath, batch)
        else VectorIndexStore.appendPq(spark, indexPath, batch)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming twin of the incremental semantic dedup (sem2 / `semdedup
    * --incremental` as a service): embedding batches arrive as parquet
    * files; each batch assigns into the state's FROZEN cell quantizer,
    * scores only new×new + new×stored pairs (the stored corpus never
    * self-joins again), merges labels through the delta-sized
    * incremental closure, and its arrival-time cluster rows land at
    * `outDir/batch=<id>`. State (assigned/pairs/labels) advances in ONE
    * journaled group commit per batch — N streamed waves == the N-batch
    * CLI composition == the one-shot build under the frozen cells
    * (MediaStreamingSpec pins streamed == batch).
    *
    * Exactly-once across replays: the fresh-filter anti-joins the
    * state's `assigned` table, so a batch whose commit landed shrinks
    * to empty on replay (its `batch=<id>` output survives untouched);
    * a crash between the output write and the commit replays to an
    * IDENTICAL rewrite because assignment under frozen cells is
    * deterministic (`semanticAppend` emits before committing — the
    * splitServe callback protocol).
    */
  def semdedupStream(spark: org.apache.spark.sql.SparkSession, embDir: String,
      store: graft.etl.ParquetTableStore, outDir: String,
      checkpointDir: String,
      minCos: Double = 0.3): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    val schema = spark.read.parquet(embDir).schema
    spark.readStream.schema(schema).parquet(embDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fresh = batch.dropDuplicates("vec_id")
          .join(store.read("assigned").select(col("vec_id")),
            Seq("vec_id"), "left_anti")
          .localCheckpoint(true) // one verdict for the serve and the absorb
        if (!fresh.isEmpty)
          Similarity.semanticAppend(store, fresh, minCos) { clusters =>
            clusters.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming PCA — EXACT incremental model maintenance: each arriving
    * embedding batch's sufficient statistics (n, Σv, Σvvᵀ as order-exact
    * decimal sums — `Pca.stats`) fold into the persisted `pca_stats`
    * table, and because the fold is an abelian sum, the model fitted
    * from the accumulated statistics equals `Pca.fit` over everything
    * that ever arrived BIT-FOR-BIT (MediaStreamingSpec pins it) — no
    * decay, no approximation, no re-scan of old batches. This is the
    * stream face of `fitMerged`: waves are shards arriving in time
    * instead of space.
    *
    * Exactly-once across replays: the `pca_seen` id table and the stats
    * advance in ONE journaled group commit, and the fresh-filter
    * anti-joins `pca_seen` — so a replayed batch (crash before OR after
    * the commit, stale checkpoint, full redelivery) shrinks to exactly
    * the rows not yet folded. Content-based, like every other twin — no
    * reliance on batch ids surviving a checkpoint loss.
    */
  def pcaStream(spark: org.apache.spark.sql.SparkSession, embDir: String,
      store: graft.etl.ParquetTableStore, checkpointDir: String,
      vecCol: String = "embedding"): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Pca
    import spark.implicits._
    val schema = spark.read.parquet(embDir).schema
    spark.readStream.schema(schema).parquet(embDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val seen = if (store.exists("pca_seen")) store.read("pca_seen")
          else spark.emptyDataset[Long].toDF("vec_id")
        val fresh = batch.dropDuplicates("vec_id")
          .join(seen, Seq("vec_id"), "left_anti")
          .localCheckpoint(true)
        if (!fresh.isEmpty) {
          val b = Pca.stats(fresh, vecCol)
          val merged = if (store.exists("pca_stats"))
            Pca.statsFromDf(store.read("pca_stats")).merge(b)
          else b
          store.stage("pca_stats", Pca.statsToDf(spark, merged))
          store.stage("pca_seen", seen.unionByName(fresh.select(col("vec_id"))))
          store.commitStaged(Seq("pca_stats", "pca_seen"))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming KMV distinct sketch: each arriving batch's hash synopsis
    * folds into the persisted `kmv` table (union → distinct → k
    * smallest — `Sketches.kmvSynopsis` over the union). The synopsis is
    * a JOIN-SEMILATTICE (bottom-k set union: commutative, associative,
    * IDEMPOTENT), so this twin needs NO replay guard at all — a
    * replayed batch folds to the identical synopsis by absorption, the
    * only stream in the file whose exactly-once property is algebraic
    * rather than engineered (contrast pcaStream's seen-guard: sums are
    * not idempotent). N waves == the one-shot synopsis bit-for-bit
    * (MediaStreamingSpec), so the streamed estimate never drifts.
    */
  /** Streaming twin of the Q1 incremental mart (`marts/TpchMart`):
    * lineitem waves fold their DECIMAL partials into the persisted
    * `q1_state` under a seen-guard — sums are not idempotent (contrast
    * kmvStream's semilattice), so exactly-once is the pcaStream
    * engineering: fresh-filter, one group commit of state + guard. The
    * guard grain is the FILE (`_metadata.file_path`), not the row:
    * lineitem has NO unique row key (the synthetic data genuinely
    * repeats (l_orderkey, l_linenumber) — a row-grain guard silently
    * dropped 23% of the corpus in this spec's first run), and the file
    * is the ingestion unit a fact-stream deployment actually receives
    * exactly-once. N waves == the one-shot partials bit-for-bit; a
    * fresh-checkpoint replay fresh-filters every file out and no-ops
    * (MediaStreamingSpec).
    */
  def q1MartStream(spark: org.apache.spark.sql.SparkSession, liDir: String,
      store: graft.etl.ParquetTableStore, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.marts.TpchMart
    val schema = spark.read.parquet(liDir).schema
    spark.readStream.schema(schema).parquet(liDir)
      .select(col("*"), col("_metadata.file_path").as("__file"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val seen = if (store.exists("q1_seen")) store.read("q1_seen")
          else batch.select(col("__file")).limit(0)
        val fresh = batch
          .join(seen, Seq("__file"), "left_anti")
          .localCheckpoint(true)
        if (!fresh.isEmpty) {
          val b = TpchMart.q1Partials(fresh.drop("__file"))
          val merged = if (store.exists("q1_state"))
            TpchMart.foldPartials(store.read("q1_state"), b)
          else b
          store.stage("q1_state", merged)
          store.stage("q1_seen",
            seen.unionByName(fresh.select(col("__file")).distinct()))
          store.commitStaged(Seq("q1_state", "q1_seen"))
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  def kmvStream(spark: org.apache.spark.sql.SparkSession, srcDir: String,
      store: graft.etl.ParquetTableStore, checkpointDir: String,
      colName: String, k: Int,
      salt: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Sketches
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = Sketches.kmvSynopsis(batch, col(colName), k, salt)
        val merged = if (store.exists("kmv"))
          store.read("kmv").unionByName(fresh).distinct()
            .orderBy(col("h")).limit(k)
        else fresh
        store.overwrite("kmv", merged.localCheckpoint(true))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming ingestion twin of the BM25 text index (`search append`
    * as a service — the last index family without one): arriving
    * document batches tokenize and append into the stored postings.
    * Replay-safe without a batch-keyed output: the fresh-filter
    * anti-joins the postings' doc-grain view, so a replayed batch
    * shrinks to empty instead of double-appending posting rows; and
    * `stats` is written as a DERIVATION of the postings
    * (`TextIndexStore.appendHealed` / `healStats`) rather than an
    * incremental bump, so a crash between the posting append and the
    * stats write replays to the same healed fixed point — the
    * empty-fresh branch still heals, which is exactly the case a torn
    * append replays into. Compaction stays an out-of-band verb
    * (`search compact`), as in the batch path.
    */
  def searchStream(spark: org.apache.spark.sql.SparkSession, docsDir: String,
      indexDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.TextIndexStore
    val schema = spark.read.parquet(docsDir).schema
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = batch.dropDuplicates("doc_id")
          .join(TextIndexStore.indexedDocs(spark, indexDir).select(col("doc_id")),
            Seq("doc_id"), "left_anti")
          .localCheckpoint(true) // one verdict for the guard and the absorb
        if (!fresh.isEmpty) TextIndexStore.appendHealed(spark, indexDir, fresh)
        else TextIndexStore.healStats(spark, indexDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming twin of the INDEXED dedup serve loop (`dedupidx serve
    * --append` per micro-batch): each arriving document batch emits its
    * near-dup pair delta against the accumulated corpus — served from the
    * persisted DedupIndexStore with batch-sized work only — and is then
    * absorbed into the index under the frozen order.
    *
    * Exactly-once: the pair output is keyed by micro-batch id
    * (`<outDir>/batch=<id>`, dynamic overwrite) so a replayed batch
    * OVERWRITES its own output instead of appending twice — the standard
    * foreachBatch idempotence idiom; the index absorb is independently
    * idempotent via the sets-table replay guard (DedupIndexStore.append
    * skips already-indexed docs). Either crash ordering therefore heals:
    * pairs written + absorb lost → replay re-serves (the fresh-filter
    * still sees the docs) and rewrites identical pairs; absorb done +
    * pairs lost is impossible (pairs commit first).
    */
  def dedupIndexStream(spark: org.apache.spark.sql.SparkSession, docsDir: String,
      store: graft.etl.ParquetTableStore, outDir: String,
      checkpointDir: String, threshold: Double = 0.8,
      containment: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.DedupIndexStore
    val schema = spark.read.parquet(docsDir).schema
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fresh = batch.dropDuplicates("doc_id")
          .join(store.read("sets").select(col("doc_id")), Seq("doc_id"), "left_anti")
          .localCheckpoint(true) // one verdict for both the serve and the absorb
        if (!fresh.isEmpty) {
          val delta =
            if (containment)
              DedupIndexStore.containmentIncremental(store, fresh, n = 3, threshold)
            else DedupIndexStore.pairsIncremental(store, fresh, n = 3, threshold)
          delta.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          DedupIndexStore.append(store, fresh)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** The split-assignment service (s11) as a stream: document batches
    * arrive as parquet files; each batch gets leakage-safe train/val/test
    * labels — adopt the batch doc's cluster's FROZEN split when
    * unambiguous, hash a fresh label for clusters touching nothing
    * assigned before, flag 'conflict' when the batch bridges clusters
    * frozen to different splits — and the assignments land at
    * `outDir/batch=<id>` AND append to the standing `splits` table (the
    * freeze: a doc's split never changes after assignment). Delta pairs
    * come from the shared DedupIndexStore tables in the same store
    * (batch-shaped serve, d23's fabric); labels merge by contraction
    * into the `clusters` table.
    *
    * Exactly-once across replays: the serve guard is the index's `sets`
    * table (a fully-absorbed batch shrinks to empty), the index append
    * commits LAST, and every earlier step is idempotent on replay — the
    * re-derived assignment equals the stored one because a batch doc's
    * own frozen row only ever adds its OWN split to its cluster's census
    * (self-consistent), and the splits append anti-joins docs already
    * assigned.
    */
  /** `resolveEvery` (0 = off): the exportStream resolve cadence on the
    * standalone assignment service — after every Nth wave the
    * quarantine is adjudicated (`resolveConflictsInStore`), so bridge
    * docs don't sit 'conflict' forever waiting for an operator to run
    * the `split resolve` CLI between waves. The verb is a fixed point
    * (empty quarantine = cheap no-op probe), so replays are safe, and
    * post-resolution every census is size 1 — later waves adopt.
    */
  def splitStream(spark: org.apache.spark.sql.SparkSession, docsDir: String,
      store: graft.etl.ParquetTableStore, outDir: String,
      checkpointDir: String, threshold: Double = 0.8,
      resolveEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Curation
    val schema = spark.read.parquet(docsDir).schema
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // serve + commit in Curation.splitServe (the CLI shares it);
        // the batch-keyed overwrite is the idempotent `write` the
        // replay argument needs
        Curation.splitServe(store, batch, threshold) { assigned =>
          assigned.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        }
        if (resolveEvery > 0 && (batchId + 1) % resolveEvery == 0 &&
            store.exists("splits"))
          Curation.resolveConflictsInStore(store)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming twin of the pretraining export front door (e2e12 as a
    * service — Curation.exportServe): document waves arrive as parquet
    * files; each wave is Gopher-gated, split-served against the stored
    * dedup state, its canonical train docs are admitted, and the shard
    * manifest over everything admitted so far lands in the store's
    * `manifest` table (a regenerated derived artifact — overwrite is
    * its idempotence). Assignments land at `outDir/batch=<id>`.
    * Exactly-once across replays by exportServe's contract: the serve
    * guard is the index's `sets` table, the admitted append is
    * anti-joined, and a replayed wave regenerates the identical
    * manifest.
    */
  /** `resolveEvery` (0 = off) closes the resolution loop INSIDE the
    * stream: after every Nth wave the quarantine is adjudicated
    * (`resolveConflictsInStore`) and admission re-derived under the
    * resolved splits (`exportReconcile`) — without it, bridge docs
    * quarantine as 'conflict' forever unless an operator runs the
    * `split resolve` CLI between waves. Replay-safe like every other
    * stage: both verbs are fixed points (an empty quarantine is a
    * cheap no-op probe; a replayed reconcile flips nothing and
    * regenerates the identical manifest), so a crash anywhere between
    * serve and resolve replays to the same state. The resolve cadence
    * composes with the batch lifecycle: N waves + in-stream resolve
    * lands on the SAME final manifest as serve-all-then-resolve-once
    * (MediaStreamingSpec pins it), because post-resolution every
    * census is size 1 and later members adopt.
    */
  def exportStream(spark: org.apache.spark.sql.SparkSession, docsDir: String,
      store: graft.etl.ParquetTableStore, outDir: String,
      checkpointDir: String, threshold: Double = 0.8,
      budget: Long = 1024L, seqsPerShard: Long = 4L,
      resolveEvery: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Curation
    val schema = spark.read.parquet(docsDir).schema
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (_, manifest) = Curation.exportServe(store, batch, threshold,
            budget, seqsPerShard) { assigned =>
          assigned.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        }
        if (store.exists("admitted")) store.overwrite("manifest", manifest)
        if (resolveEvery > 0 && (batchId + 1) % resolveEvery == 0 &&
            store.exists("splits")) {
          Curation.resolveConflictsInStore(store)
          val (_, m2) = Curation.exportReconcile(store, budget, seqsPerShard)
          store.overwrite("manifest", m2)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming twin of the suffix-span serve (d26): document batches
    * arrive as parquet files; each batch's maximal duplicated-span
    * lengths vs (everything absorbed so far ∪ batch) land at
    * `outDir/batch=<id>` and the batch is absorbed into the stored
    * suffix state. Exactly-once WITHOUT a guard table: the batch-id
    * overwrite makes the span write idempotent, and serve excludes the
    * batch's own stored copies by doc_id (SuffixIndexStore's re-serve
    * guard), so a replay after a completed absorb re-serves the
    * identical pre-absorb answer; a replayed absorb only duplicates
    * rows that can change no future match length.
    */
  def suffixIndexStream(spark: org.apache.spark.sql.SparkSession, docsDir: String,
      store: graft.etl.ParquetTableStore, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.SuffixIndexStore
    val schema = spark.read.parquet(docsDir).schema
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.dropDuplicates("doc_id").localCheckpoint(true)
        if (!b.isEmpty) {
          SuffixIndexStore.servedSpans(store, b)
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          SuffixIndexStore.append(store, b)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming twin of the quality gate: document batches arrive as
    * parquet files and are scored under the stored FROZEN trigram LM
    * (Main.qualityTrain's artifact) — training never re-runs, the
    * indexAppendStream doctrine applied to the LM. A replayed batch is
    * a no-op via the seen-doc anti-join against the served score table.
    */
  def qualityStream(spark: org.apache.spark.sql.SparkSession, docsDir: String,
      modelDir: String, store: graft.etl.TableStore,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.TextQuality
    val schema = spark.read.parquet(docsDir).schema // footer-only read
    val model = TextQuality.LmModel(
      spark.read.parquet(s"$modelDir/trigrams"),
      spark.read.parquet(s"$modelDir/contexts"),
      spark.read.parquet(s"$modelDir/vocab"))
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b0 = batch.dropDuplicates("doc_id")
        val b = if (store.exists("quality_scores"))
          b0.join(store.read("quality_scores"), Seq("doc_id"), "left_anti")
        else b0
        store.append("quality_scores", TextQuality.lmScoreWith(model, b))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming decontamination twin (`Main.decon --incremental` per
    * micro-batch): arriving embedding batches are scored against the
    * STORED frozen benchmark + threshold and appended to `flags`. The
    * benchmark never changes mid-stream (the frozen-quantizer doctrine
    * — drifting it would make flags incomparable across batches), the
    * per-batch pass is narrow (benchmark rides as a literal), and the
    * seen-vec anti-join makes a replayed batch a no-op — one appended
    * table, so there is no multi-table ordering to tear.
    */
  def deconStream(spark: org.apache.spark.sql.SparkSession, embDir: String,
      store: graft.etl.TableStore,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    val schema = spark.read.parquet(embDir).schema // footer-only read
    val bench = Similarity.collectBenchmark(store.read("benchmark"))
    val threshold = store.read("meta").head().getDouble(0)
    spark.readStream.schema(schema).parquet(embDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b0 = batch.dropDuplicates("vec_id")
        val b = if (store.exists("flags"))
          b0.join(store.read("flags").select(col("vec_id")), Seq("vec_id"), "left_anti")
        else b0
        store.append("flags", Similarity.semanticContamination(b, bench, threshold))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming novelty scoring: arriving doc batches are scored against
    * the STORED corpus shingle frequencies (`shingle_freq` — plain
    * abelian counts), then the counts absorb the batch — so each batch's
    * novelty is measured against everything that arrived before it,
    * exactly the sequential `noveltyScoresFrozen` semantics
    * (MediaStreamingSpec proves two streamed batches == two sequential
    * frozen-batch calls over a growing corpus).
    *
    * Crash-safe: scores and frequencies publish as ONE journaled group
    * commit (`commitStaged`), so "scored" ⟺ "absorbed into
    * shingle_freq" at every observable point — a crash can no longer
    * leave a batch scored but never absorbed (which would permanently
    * undercount the stored frequencies and inflate every later batch's
    * novelty). The seen-doc anti-join is then an exact replay guard.
    * The score table becomes a per-batch copy-on-write rewrite — the
    * price of group atomicity on a swap-based store, not of the
    * algorithm (a merge-on-read store would append under the same
    * manifest commit).
    */
  def noveltyStream(spark: org.apache.spark.sql.SparkSession, docsDir: String,
      store: graft.etl.TableStore, checkpointDir: String,
      n: Int = 3): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{TextDedup, TextStats}
    val schema = spark.read.parquet(docsDir).schema // footer-only read
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        import ss.implicits._
        val b0 = batch.dropDuplicates("doc_id")
        val emptyFreq = Seq.empty[(String, Long)].toDF("s", "df")
        val prevScores = if (store.exists("novelty_scores"))
          store.read("novelty_scores")
        else TextStats.noveltyAgainstFreq(b0.limit(0), emptyFreq, n)
        val b = b0.join(prevScores.select(col("doc_id")), Seq("doc_id"), "left_anti")
        val freq = if (store.exists("shingle_freq")) store.read("shingle_freq")
          else emptyFreq
        val bFreq = TextDedup.shingleRows(b, n)
          .groupBy(col("s")).agg(count(lit(1)).as("df"))
        store.stage("novelty_scores",
          prevScores.unionByName(TextStats.noveltyAgainstFreq(b, freq, n)))
        store.stage("shingle_freq",
          freq.unionByName(bFreq).groupBy(col("s"))
            .agg(sum(col("df")).as("df")))
        store.commitStaged(Seq("novelty_scores", "shingle_freq"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Stream-stream interval join: purchases attributed to a click by the
    * same user within `attribution` before the purchase. Watermarks bound
    * BOTH state stores (Spark drops click state older than purchase
    * watermark - attribution, and vice versa) — mandatory for an unbounded
    * stream-stream join; the SAME code path works in batch (watermark is a
    * no-op there). Inputs need event-time columns named click_ts /
    * purchase_ts plus a shared user_id.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      attribution: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("click_ts", watermark)
    val p = purchases.withColumnRenamed("user_id", "p_user_id")
      .withWatermark("purchase_ts", watermark)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $attribution"))
      .drop("p_user_id")
  }

  /** LEFT OUTER flavor of the attribution join: unmatched clicks emit a
    * null purchase — but only once the watermark proves no in-window
    * purchase can still arrive (the null row materializes when the
    * watermark passes click_ts + attribution). Batch: a plain left join.
    */
  def attributionJoinOuter(clicks: DataFrame, purchases: DataFrame,
      attribution: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("click_ts", watermark)
    val p = purchases.withColumnRenamed("user_id", "p_user_id")
      .withWatermark("purchase_ts", watermark)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $attribution"),
      "left_outer")
      .drop("p_user_id")
  }

  case class SessionEvent(user_id: Long, event_id: Long, ts_ns: Long)
  case class SessionState(start_ns: Long, last_ns: Long, n_events: Long)
  case class Session(user_id: Long, start_ns: Long, end_ns: Long, n_events: Long)

  val GapNs: Long = 30L * 60 * 1000000000L // 30-minute inactivity gap

  /** Stateful sessionization with flatMapGroupsWithState: emits a session
    * whenever a gap exceeds GapNs. In streaming, ProcessingTimeTimeout
    * flushes idle sessions; in tests MemoryStream drives it. The batch
    * equivalent (lag + cumulative sum) is `graft.queries` st2 — both
    * produce identical sessions on the same input.
    */
  def sessionize(events: Dataset[SessionEvent],
      outputMode: OutputMode = OutputMode.Append()): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        outputMode, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          var st = state.getOption.orNull
          val out = Seq.newBuilder[Session]
          sorted.foreach { e =>
            st match {
              case null =>
                st = SessionState(e.ts_ns, e.ts_ns, 1L)
              case s if e.ts_ns - s.last_ns > GapNs =>
                out += Session(userId, s.start_ns, s.last_ns, s.n_events)
                st = SessionState(e.ts_ns, e.ts_ns, 1L)
              case s =>
                st = SessionState(s.start_ns, e.ts_ns, s.n_events + 1L)
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** Flush whatever state remains as closed sessions (batch-mode epilogue;
    * a stream would use a timeout instead).
    */
  def sessionizeBatch(events: Dataset[SessionEvent]): Dataset[Session] = {
    import events.sparkSession.implicits._
    // batch flavor: one pass per user, emitting ALL sessions incl. the open one
    events.groupByKey(_.user_id).flatMapGroups { (userId, it) =>
      val sorted = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
      val out = Seq.newBuilder[Session]
      var start = -1L; var last = -1L; var n = 0L
      sorted.foreach { e =>
        if (start < 0) { start = e.ts_ns; last = e.ts_ns; n = 1 }
        else if (e.ts_ns - last > GapNs) {
          out += Session(userId, start, last, n)
          start = e.ts_ns; last = e.ts_ns; n = 1
        } else { last = e.ts_ns; n += 1 }
      }
      if (start >= 0) out += Session(userId, start, last, n)
      out.result().iterator
    }
  }
}
