package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

import graft.etl.ParquetTableStore

/** Structured Streaming flavor of the engine's incremental semantics
  * (SURVEY §2.9). Every transform here is written against a DataFrame so
  * the SAME code runs in batch (tests, backfill) and as a stream
  * (production): event-time windowed aggregation with watermark, CDC-style
  * dedup-by-content-hash against state, and stateful sessionization via
  * flatMapGroupsWithState.
  *
  * Scale notes: state is keyed by user/hash — partitioned by key hash
  * across executors; watermarks bound state size; an AvailableNow trigger
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

  /** Runs `step` once per micro-batch over the Parquet files that arrive
    * in `dir`, with the batch id, as the reference's daily batch (SURVEY
    * §2.9): the schema comes from the files already there, `source`
    * shapes the stream before the step, the AvailableNow trigger drains
    * what has arrived and stops, and `checkpointDir` records the files
    * each batch id covers.
    *
    * Exactly-once. The file source logs a batch's files before its step
    * runs and marks the batch done after the step returns, so a crash in
    * between re-delivers the SAME batch (same id, same files) on restart,
    * and a lost checkpoint re-delivers every file. Each twin absorbs that
    * re-delivery in one of three ways:
    *  - a replay guard (`fresh`): the ids the state has absorbed are
    *    stored beside it and advance with it (one journaled group commit,
    *    or an absorb that is itself the id store), so a batch whose
    *    commit landed shrinks to empty and one whose commit did not
    *    replays whole — content-based, so it survives a lost checkpoint.
    *    Only `ParquetTableStore.commitStaged`'s journal makes a group
    *    commit crash-atomic, so the twins take that store;
    *  - a batch-id overwrite (`overwriteBatch`): a replay rewrites its
    *    own `<out>/batch=<id>` output instead of adding a second one;
    *  - an idempotent fold: applying a batch twice leaves the state as
    *    applying it once does.
    */
  private def drive(spark: SparkSession, dir: String, checkpointDir: String,
      source: DataFrame => DataFrame = identity)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    source(spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir))
      .writeStream
      .foreachBatch(step)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The replay guard. Runs `use` on the rows of `batch` (one per `key`
    * unless `dedupe` is false) whose `key` is not among `seen`'s, unless
    * there are none, and returns whether it ran. The rows are computed
    * once and pinned (a local checkpoint), so the serve and the absorb
    * see one verdict although the absorb grows `seen`; the pin's blocks
    * are removed when `use` returns or throws (through the checkpointed
    * RDD: `unpersist` on the DataFrame does not reach them, and the
    * ContextCleaner only when the RDD happens to be garbage-collected).
    * With `seen` None nothing is filtered: the pin alone, for twins whose
    * replay rests on the batch-id overwrite.
    */
  private def fresh(batch: DataFrame, key: String, seen: Option[DataFrame],
      dedupe: Boolean = true)(use: DataFrame => Unit): Boolean = {
    val rows = if (dedupe) batch.dropDuplicates(key) else batch
    val pinned = seen.fold(rows)(s => rows.join(s.select(key), Seq(key), "left_anti"))
      .localCheckpoint(true)
    try !pinned.isEmpty && { use(pinned); true }
    finally pinned.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = true))
  }

  /** A stored table, if the store has it. */
  private def stored(store: ParquetTableStore, name: String): Option[DataFrame] =
    if (store.exists(name)) Some(store.read(name)) else None

  /** `rows` added to a stored id table (just `rows` when there is none). */
  private def grown(ids: Option[DataFrame], rows: DataFrame): DataFrame =
    ids.fold(rows)(_.unionByName(rows))

  private def overwriteBatch(df: DataFrame, outDir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

  /** Streaming twin of the 64-bit band-index serve (mm4/d28): signature
    * batches (doc_id, hash64) arrive; each batch's near-dup pair delta vs
    * (everything absorbed so far ∪ batch) lands at `outDir/batch=<id>`
    * and the batch's 8 band rows are absorbed. No guard table: serve
    * anti-joins the batch's own ids out of the stored side, so a replay
    * after a completed absorb re-serves the identical pre-absorb answer,
    * and a replayed absorb only duplicates band rows, which candidates'
    * dropDuplicates makes harmless.
    */
  def bandIndexStream(spark: SparkSession, sigDir: String, store: ParquetTableStore,
      outDir: String, checkpointDir: String): StreamingQuery = {
    import graft.operators.HammingIndexStore
    drive(spark, sigDir, checkpointDir) { (batch, batchId) =>
      fresh(batch, "doc_id", None) { b =>
        overwriteBatch(HammingIndexStore.pairsIncremental(store, b), outDir, batchId)
        HammingIndexStore.append(store, b)
      }
    }
  }

  /** Streaming twin of INCREMENTAL DEDUP: each micro-batch generates only
    * its delta pairs against the accumulated corpus
    * (`prefixFilterPairsIncremental` — the existing corpus never
    * self-joins) and merges them into the standing cluster labels by
    * contraction (`ccIncremental`). State: `corpus` (docs seen,
    * append-only) and `clusters` (labels, swapped).
    *
    * No guard: the merge is idempotent. The labels are swapped before the
    * corpus append, so a batch replayed after either write maps its delta
    * edges through the already-merged labels to self-loops, and the
    * append skips docs already in the corpus.
    */
  def dedupStream(spark: SparkSession, docsDir: String, store: ParquetTableStore,
      checkpointDir: String, threshold: Double = 0.8): StreamingQuery = {
    import graft.operators.TextDedup
    drive(spark, docsDir, checkpointDir) { (batch, _) =>
      val b = batch.dropDuplicates("doc_id")
      val existing = stored(store, "corpus").getOrElse(b.limit(0))
      val prev = stored(store, "clusters")
        .getOrElse(b.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0))
      val delta = TextDedup.prefixFilterPairsIncremental(
        existing, b, n = 3, minJaccard = threshold)
      store.overwrite("clusters", TextDedup.ccIncremental(prev, delta))
      store.append("corpus",
        b.join(existing.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    }
  }

  /** Streaming twin of INCREMENTAL CONTAINMENT KEEP (d22): each batch
    * generates only its containment-pair delta against the accumulated
    * corpus (`containmentPairsIncremental`) and merges container counts
    * into the standing decision table as abelian sums — old docs
    * retro-flip to dropped exactly when a new larger container arrives.
    * State: `corpus` (docs seen, append-only) and `containment`
    * (decisions, swapped).
    *
    * Counts do not survive a re-merge, so the guard is the decision
    * table: a doc is committed iff it has a decision, and the decision
    * swap commits last, after an idempotent corpus append. A crashed
    * attempt's corpus rows have no decision yet, so the merge reads the
    * corpus ∩ decisions and re-merges them as batch rows.
    */
  def containmentStream(spark: SparkSession, docsDir: String, store: ParquetTableStore,
      checkpointDir: String, threshold: Double = 0.8): StreamingQuery = {
    import graft.operators.TextDedup
    drive(spark, docsDir, checkpointDir) { (batch, _) =>
      val decided = stored(store, "containment")
      fresh(batch, "doc_id", decided) { b =>
        val corpusAll = stored(store, "corpus").getOrElse(b.limit(0))
        val prev = decided
          .getOrElse(TextDedup.containmentKeep(b.limit(0), n = 3, minContainment = threshold))
        val existing = corpusAll.join(prev.select(col("doc_id")), Seq("doc_id"), "left_semi")
        store.stage("containment", TextDedup.containmentKeepIncremental(
          prev, existing, b, n = 3, minContainment = threshold))
        store.append("corpus",
          b.join(corpusAll.select(col("doc_id")), Seq("doc_id"), "left_anti"))
        store.commitStaged(Seq("containment"))
      }
    }
  }

  /** Streaming twin of INCREMENTAL SPAN DUPLICATION (d15): each batch runs
    * `TextDedup.duplicatedSpansIncremental` against the stored
    * posting-list state — grams crossing cnt 1→≥2 retro-update OLD docs'
    * served stats through one semi-join, everything else is batch-sized.
    * State: `span_corpus` (the guard's doc ids), `span_postings` (doc, g,
    * k), `span_freq` (g, cnt) and `span_stats` (the served per-doc
    * table), one group commit. Postings and corpus become per-batch
    * copy-on-write rewrites: the price of group atomicity on a swap-based
    * store, not of the algorithm.
    */
  def spanStream(spark: SparkSession, docsDir: String, store: ParquetTableStore,
      checkpointDir: String, n: Int = 8): StreamingQuery = {
    import graft.operators.TextDedup
    drive(spark, docsDir, checkpointDir) { (batch, _) =>
      val seen = stored(store, "span_corpus")
      fresh(batch, "doc_id", seen) { b =>
        val empty = b.limit(0)
        val prevPostings = stored(store, "span_postings")
          .getOrElse(TextDedup.spanPostings(empty, n))
        val prevFreq = stored(store, "span_freq").getOrElse(TextDedup.spanPostings(empty, n)
          .groupBy(col("g")).agg(sum(col("k")).as("cnt")))
        val prevStats = stored(store, "span_stats")
          .getOrElse(TextDedup.duplicatedSpans(empty, n))
        val batchPostings = TextDedup.spanPostings(b, n)
        val stats = TextDedup.duplicatedSpansIncremental(
          prevPostings, prevFreq, prevStats, b, n)
        val mergedFreq = prevFreq.unionByName(
            batchPostings.groupBy(col("g")).agg(sum(col("k")).as("cnt")))
          .groupBy(col("g")).agg(sum(col("cnt")).as("cnt"))
        store.stage("span_stats", stats)
        store.stage("span_freq", mergedFreq)
        store.stage("span_postings", prevPostings.unionByName(batchPostings))
        store.stage("span_corpus", grown(seen, b.select(col("doc_id"))))
        store.commitStaged(Seq("span_stats", "span_freq", "span_postings", "span_corpus"))
      }
    }
  }

  /** Streaming twin of `index append` (`VectorIndexStore.append`):
    * embedding batches are encoded with the stored FROZEN quantizers —
    * training never re-runs and existing code rows are never touched.
    * The index must already exist (`index build`).
    *
    * Exactly-once only up to the file source's bookkeeping: a parquet
    * append is not idempotent, so a crash inside the step before the
    * batch is marked done encodes it twice. An index that needs more
    * writes its codes through a manifest commit (`ManifestTableStore`).
    */
  def indexAppendStream(spark: SparkSession, embDir: String, indexPath: String,
      checkpointDir: String): StreamingQuery =
    drive(spark, embDir, checkpointDir) { (batch, _) =>
      graft.operators.VectorIndexStore.append(spark, indexPath, batch)
    }

  /** Streaming twin of the incremental semantic dedup (`semdedup
    * --incremental` as a service): each batch assigns into the state's
    * FROZEN cell quantizer, scores only new×new + new×stored pairs,
    * merges labels through the delta-sized incremental closure, and its
    * arrival-time cluster rows land at `outDir/batch=<id>`. N streamed
    * waves == the N-batch CLI composition == the one-shot build under the
    * frozen cells (MediaStreamingSpec). The guard is the state's
    * `assigned` table, advanced in `semanticAppend`'s group commit; the
    * output is written before that commit, and a replay rewrites it
    * identically because assignment under frozen cells is deterministic.
    */
  def semdedupStream(spark: SparkSession, embDir: String, store: ParquetTableStore,
      outDir: String, checkpointDir: String, minCos: Double = 0.3): StreamingQuery = {
    import graft.operators.Similarity
    drive(spark, embDir, checkpointDir) { (batch, batchId) =>
      fresh(batch, "vec_id", Some(store.read("assigned"))) { f =>
        Similarity.semanticAppend(store, f, minCos)(overwriteBatch(_, outDir, batchId))
      }
    }
  }

  /** Streaming PCA — EXACT incremental model maintenance: each batch's
    * sufficient statistics (n, Σv, Σvvᵀ as order-exact decimal sums —
    * `Pca.stats`) fold into the persisted `pca_stats`, and because the
    * fold is an abelian sum, the model fitted from them equals `Pca.fit`
    * over everything that ever arrived BIT-FOR-BIT (MediaStreamingSpec).
    * Sums are not idempotent, so `pca_seen` guards them, in the same
    * group commit.
    */
  def pcaStream(spark: SparkSession, embDir: String, store: ParquetTableStore,
      checkpointDir: String, vecCol: String = "embedding"): StreamingQuery = {
    import graft.operators.Pca
    drive(spark, embDir, checkpointDir) { (batch, _) =>
      val seen = stored(store, "pca_seen")
      fresh(batch, "vec_id", seen) { f =>
        val b = Pca.stats(f, vecCol)
        val merged = stored(store, "pca_stats").fold(b)(Pca.statsFromDf(_).merge(b))
        store.stage("pca_stats", Pca.statsToDf(spark, merged))
        store.stage("pca_seen", grown(seen, f.select(col("vec_id"))))
        store.commitStaged(Seq("pca_stats", "pca_seen"))
      }
    }
  }

  /** Streaming twin of the Q1 incremental mart (`marts/TpchMart`):
    * lineitem waves fold their DECIMAL partials into the persisted
    * `q1_state`, guarded like pcaStream by `q1_seen` in the same group
    * commit. The guard grain is the FILE (`_metadata.file_path`), and
    * rows are not deduplicated: lineitem has NO unique row key (the
    * synthetic data repeats (l_orderkey, l_linenumber) — a row-grain
    * guard silently dropped 23% of the corpus in this spec's first run),
    * and the file is the unit a fact stream receives exactly once.
    */
  def q1MartStream(spark: SparkSession, liDir: String, store: ParquetTableStore,
      checkpointDir: String): StreamingQuery = {
    import graft.marts.TpchMart
    drive(spark, liDir, checkpointDir,
        _.select(col("*"), col("_metadata.file_path").as("__file"))) { (batch, _) =>
      val seen = stored(store, "q1_seen")
      fresh(batch, "__file", seen, dedupe = false) { f =>
        val b = TpchMart.q1Partials(f.drop("__file"))
        store.stage("q1_state", stored(store, "q1_state").fold(b)(TpchMart.foldPartials(_, b)))
        store.stage("q1_seen", grown(seen, f.select(col("__file")).distinct()))
        store.commitStaged(Seq("q1_state", "q1_seen"))
      }
    }
  }

  /** Streaming KMV distinct sketch: each batch's hash synopsis folds into
    * the persisted `kmv` table (union → distinct → k smallest —
    * `Sketches.kmvSynopsis` over the union). The synopsis is a
    * JOIN-SEMILATTICE (bottom-k set union: commutative, associative,
    * IDEMPOTENT), so this twin needs no guard: a replayed batch folds to
    * the identical synopsis by absorption (contrast pcaStream: sums are
    * not idempotent). N waves == the one-shot synopsis bit-for-bit.
    */
  def kmvStream(spark: SparkSession, srcDir: String, store: ParquetTableStore,
      checkpointDir: String, colName: String, k: Int, salt: String): StreamingQuery = {
    import graft.operators.Sketches
    drive(spark, srcDir, checkpointDir) { (batch, _) =>
      val b = Sketches.kmvSynopsis(batch, col(colName), k, salt)
      store.overwrite("kmv", stored(store, "kmv")
        .fold(b)(_.unionByName(b).distinct().orderBy(col("h")).limit(k)))
    }
  }

  /** Streaming twin of `search append`: document batches tokenize and
    * append into the stored BM25 postings. The guard is the postings'
    * doc-grain view, and `stats` is written as a DERIVATION of the
    * postings (`TextIndexStore.appendHealed` / `healStats`) rather than
    * an incremental bump, so a crash between the posting append and the
    * stats write replays to the same healed fixed point: a batch the
    * guard empties still heals, which is exactly the case a torn append
    * replays into. Compaction stays an out-of-band verb.
    */
  def searchStream(spark: SparkSession, docsDir: String, indexDir: String,
      checkpointDir: String): StreamingQuery = {
    import graft.operators.TextIndexStore
    drive(spark, docsDir, checkpointDir) { (batch, _) =>
      val indexed = TextIndexStore.indexedDocs(spark, indexDir)
      if (!fresh(batch, "doc_id", Some(indexed))(TextIndexStore.appendHealed(spark, indexDir, _)))
        TextIndexStore.healStats(spark, indexDir)
    }
  }

  /** Streaming twin of the INDEXED dedup serve loop (`dedupidx serve
    * --append`, `DedupIndexStore.serve`): each batch's near-dup (or
    * containment) pair delta against the stored index lands at
    * `outDir/batch=<id>`, then the batch is absorbed under the frozen
    * order. The guard is the index's `sets` table; the pairs are written
    * before the absorb, so a replay after a lost absorb re-serves and
    * rewrites identical pairs.
    */
  def dedupIndexStream(spark: SparkSession, docsDir: String, store: ParquetTableStore,
      outDir: String, checkpointDir: String, threshold: Double = 0.8,
      containment: Boolean = false): StreamingQuery = {
    import graft.operators.DedupIndexStore
    drive(spark, docsDir, checkpointDir) { (batch, batchId) =>
      fresh(batch, "doc_id", Some(store.read("sets"))) { f =>
        overwriteBatch(DedupIndexStore.serve(store, f, threshold, containment), outDir, batchId)
        DedupIndexStore.append(store, f)
      }
    }
  }

  /** The split-assignment service (s11, `Curation.splitServe`, which the
    * CLI shares) as a stream: each batch gets leakage-safe train/val/test
    * labels (adopt the doc's cluster's FROZEN split, hash a fresh one for
    * clusters touching nothing assigned, flag 'conflict' for a batch
    * that bridges clusters frozen to different splits); the assignments
    * land at `outDir/batch=<id>` and append to the standing `splits`.
    * splitServe guards by the index's `sets` table and appends the index
    * last; a re-derived assignment equals the stored one because a batch
    * doc's own frozen row only adds its OWN split to its cluster's census.
    *
    * `resolveEvery` (0 = off): after every Nth wave the quarantine is
    * adjudicated (`resolveConflictsInStore`), so bridge docs don't sit
    * 'conflict' until an operator runs `split resolve`. The verb is a
    * fixed point, so replays are safe.
    */
  def splitStream(spark: SparkSession, docsDir: String, store: ParquetTableStore,
      outDir: String, checkpointDir: String, threshold: Double = 0.8,
      resolveEvery: Int = 0): StreamingQuery = {
    import graft.operators.Curation
    drive(spark, docsDir, checkpointDir) { (batch, batchId) =>
      Curation.splitServe(store, batch, threshold)(overwriteBatch(_, outDir, batchId))
      if (resolveEvery > 0 && (batchId + 1) % resolveEvery == 0 && store.exists("splits"))
        Curation.resolveConflictsInStore(store)
    }
  }

  /** Streaming twin of the pretraining export front door (e2e12 as a
    * service — `Curation.exportServe`): each wave is Gopher-gated,
    * split-served against the stored dedup state, its canonical train
    * docs are admitted, its assignments land at `outDir/batch=<id>`, and
    * the shard manifest over everything admitted so far is regenerated
    * into `manifest` (a derived artifact: overwrite is its idempotence).
    * exportServe guards by the index's `sets` table and anti-joins the
    * admitted append.
    *
    * `resolveEvery` (0 = off): after every Nth wave the quarantine is
    * adjudicated (`resolveConflictsInStore`) and admission re-derived
    * under the resolved splits (`exportReconcile`). Both verbs are fixed
    * points, so a crash anywhere between serve and resolve replays to the
    * same state, and N waves with in-stream resolve land on the SAME
    * manifest as serve-all-then-resolve-once (MediaStreamingSpec).
    */
  def exportStream(spark: SparkSession, docsDir: String, store: ParquetTableStore,
      outDir: String, checkpointDir: String, threshold: Double = 0.8,
      budget: Long = 1024L, seqsPerShard: Long = 4L,
      resolveEvery: Int = 0): StreamingQuery = {
    import graft.operators.Curation
    drive(spark, docsDir, checkpointDir) { (batch, batchId) =>
      val (_, manifest) = Curation.exportServe(store, batch, threshold,
        budget, seqsPerShard)(overwriteBatch(_, outDir, batchId))
      if (store.exists("admitted")) store.overwrite("manifest", manifest)
      if (resolveEvery > 0 && (batchId + 1) % resolveEvery == 0 && store.exists("splits")) {
        Curation.resolveConflictsInStore(store)
        store.overwrite("manifest", Curation.exportReconcile(store, budget, seqsPerShard)._2)
      }
    }
  }

  /** Streaming twin of the suffix-span serve (d26): each batch's maximal
    * duplicated-span lengths vs (everything absorbed so far ∪ batch) land
    * at `outDir/batch=<id>` and the batch is absorbed into the stored
    * suffix state. No guard table: serve excludes the batch's own stored
    * copies by doc_id (SuffixIndexStore's re-serve guard), so a replay
    * after a completed absorb re-serves the identical pre-absorb answer,
    * and a replayed absorb only duplicates rows that can change no future
    * match length.
    */
  def suffixIndexStream(spark: SparkSession, docsDir: String, store: ParquetTableStore,
      outDir: String, checkpointDir: String): StreamingQuery = {
    import graft.operators.SuffixIndexStore
    drive(spark, docsDir, checkpointDir) { (batch, batchId) =>
      fresh(batch, "doc_id", None) { b =>
        overwriteBatch(SuffixIndexStore.servedSpans(store, b), outDir, batchId)
        SuffixIndexStore.append(store, b)
      }
    }
  }

  /** Streaming twin of the quality gate: document batches are scored
    * under the stored FROZEN trigram LM (Main.qualityTrain's artifact) —
    * training never re-runs — and appended to `quality_scores`, which is
    * also the guard: one appended table, no multi-table order to tear.
    */
  def qualityStream(spark: SparkSession, docsDir: String, modelDir: String,
      store: ParquetTableStore, checkpointDir: String): StreamingQuery = {
    import graft.operators.TextQuality
    val model = TextQuality.LmModel(
      spark.read.parquet(s"$modelDir/trigrams"),
      spark.read.parquet(s"$modelDir/contexts"),
      spark.read.parquet(s"$modelDir/vocab"))
    drive(spark, docsDir, checkpointDir) { (batch, _) =>
      fresh(batch, "doc_id", stored(store, "quality_scores")) { b =>
        store.append("quality_scores", TextQuality.lmScoreWith(model, b))
      }
    }
  }

  /** Streaming decontamination twin (`Main.decon --incremental` per
    * micro-batch): embedding batches are scored against the STORED frozen
    * benchmark + threshold (drifting it mid-stream would make flags
    * incomparable across batches; it rides as a literal) and appended to
    * `flags`, which is also the guard: one appended table, no
    * multi-table order to tear.
    */
  def deconStream(spark: SparkSession, embDir: String, store: ParquetTableStore,
      checkpointDir: String): StreamingQuery = {
    import graft.operators.Similarity
    val bench = Similarity.collectBenchmark(store.read("benchmark"))
    val threshold = store.read("meta").head().getDouble(0)
    drive(spark, embDir, checkpointDir) { (batch, _) =>
      fresh(batch, "vec_id", stored(store, "flags")) { b =>
        store.append("flags", Similarity.semanticContamination(b, bench, threshold))
      }
    }
  }

  /** Streaming novelty scoring: each batch is scored against the STORED
    * corpus shingle frequencies (`shingle_freq` — plain abelian counts),
    * then the counts absorb the batch, so each batch's novelty is
    * measured against everything that arrived before it — the sequential
    * `noveltyScoresFrozen` semantics (MediaStreamingSpec). Scores (also
    * the guard) and frequencies publish in one group commit, so "scored"
    * ⟺ "absorbed": a batch scored but never absorbed would undercount the
    * frequencies and inflate every later batch's novelty. The score table
    * becomes a per-batch copy-on-write rewrite, the price of group
    * atomicity on a swap-based store.
    */
  def noveltyStream(spark: SparkSession, docsDir: String, store: ParquetTableStore,
      checkpointDir: String, n: Int = 3): StreamingQuery = {
    import graft.operators.{TextDedup, TextStats}
    import spark.implicits._
    drive(spark, docsDir, checkpointDir) { (batch, _) =>
      val prevScores = stored(store, "novelty_scores")
      fresh(batch, "doc_id", prevScores) { b =>
        val freq = stored(store, "shingle_freq")
          .getOrElse(Seq.empty[(String, Long)].toDF("s", "df"))
        val bFreq = TextDedup.shingleRows(b, n).groupBy(col("s")).agg(count(lit(1)).as("df"))
        store.stage("novelty_scores", grown(prevScores, TextStats.noveltyAgainstFreq(b, freq, n)))
        store.stage("shingle_freq",
          freq.unionByName(bFreq).groupBy(col("s")).agg(sum(col("df")).as("df")))
        store.commitStaged(Seq("novelty_scores", "shingle_freq"))
      }
    }
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
