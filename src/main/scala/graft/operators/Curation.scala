package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/quality: benchmark decontamination, repetition signals,
  * PII scrubbing, source-mix sampling, and token-window chunking.
  *
  * Every operator is a pure DataFrame transformation whose shuffle keys
  * are content-derived, so the plans partition correctly at any scale:
  *  - decontamination joins on the n-gram string with the (small)
  *    benchmark side broadcast — the probe side never self-joins;
  *  - repetition explodes bigrams and two-level-aggregates per doc
  *    (map-side partials absorb the duplicate mass before the shuffle);
  *  - PII masking and chunking are narrow per-row projections;
  *  - mix sampling filters on a content-hash bucket — deterministic
  *    across engines, reruns and repartitioning, unlike rand().
  */
object Curation {

  /** Distinct word n-grams of the normalized text, as an exploded
    * (id, gram) relation. Distinct-per-doc BEFORE the explode so the
    * downstream join counts each shared gram once per document.
    */
  def docGrams(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(TextDedup.shingles(col(textCol), n)).as("gram"))

  /** Benchmark decontamination (the eval-overlap gate every LLM corpus
    * runs before training): flag training documents sharing at least one
    * word n-gram with the held-out benchmark set, with the shared-gram
    * count as the contamination score.
    *
    * Scale shape: the benchmark corpus is orders of magnitude smaller
    * than the training corpus, so its distinct gram set is broadcast and
    * the training side streams through a broadcast hash join — no
    * shuffle of the 100 TB side, no self-join. If the benchmark ever
    * outgrows broadcast, the same plan degrades gracefully to a shuffle
    * hash join on the gram.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val evalGrams = docGrams(benchmark, n, idCol, textCol)
      .select(col("gram")).distinct()
    docGrams(Par.fan(train), n, idCol, textCol)
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Gopher-style repetition signals per document: the duplicate-word
    * fraction and the most-frequent-bigram fraction, in integer permille
    * (floor(x·1000/denominator) — the identical IEEE double op sequence
    * the DuckDB oracle runs).
    *
    * dup_word_permille  = (n_words − n_distinct_words)·1000 / n_words
    * top_bigram_permille = max bigram multiplicity·1000 / n_bigrams
    *
    * Fully NARROW: both signals are per-row expressions over the doc's
    * own token array (documents are bounded), so the quality scan of a
    * 100 TB corpus needs zero shuffle.
    */
  def repetitionSignals(docs0: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val docs = Par.fan(docs0)
    // max bigram multiplicity WITHIN the row: sort the doc's raw bigram
    // list (multiplicity matters — TextDedup.shingles' distinct set is
    // the wrong tool) and take the longest equal run. Documents are
    // bounded, so the per-row walk is KBs; the explode → (doc, bigram)
    // count → per-doc max formulation this replaces shuffled the whole
    // bigram stream twice — the only wide stage in a per-doc quality
    // scan (measured 4× this version's cost at sf0.1).
    //
    // The token array is LET-BOUND as a lambda variable
    // (`transform(array(split…), w -> body)[1]`), not aliased as a
    // column: predicate pushdown substitutes Project aliases into filter
    // conditions textually, and a bare `w` alias referenced inside a
    // per-element lambda would re-split the document once PER ELEMENT
    // after substitution (O(n²) — measured 10× when e2e4's quality gate
    // pushed its filter down). A lambda binding survives any
    // substitution as a single evaluation.
    val wSql = s"split(trim(regexp_replace(lower($textCol), '\\\\s+', ' ')), ' ')"
    def overW(bodySql: String): Column =
      expr(s"element_at(transform(array($wSql), w -> $bodySql), 1)")
    val dup = overW(
      """CAST(FLOOR(CAST(size(w) - size(array_distinct(w)) AS DOUBLE)
         * 1000 / size(w)) AS BIGINT)""")
    val top = overW("""
      IF(size(w) > 1,
        CAST(FLOOR(CAST(aggregate(
          array_sort(transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))),
          named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT),
                       'best', CAST(0 AS BIGINT)),
          (acc, x) -> named_struct(
            'prev', x,
            'run', IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
            'best', GREATEST(acc.best,
              IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)))),
          acc -> acc.best) AS DOUBLE) * 1000 / (size(w) - 1)) AS BIGINT),
        CAST(0 AS BIGINT))""")
    docs.select(col(idCol), dup.as("dup_word_permille"),
      top.as("top_bigram_permille"))
  }

  /** PII scrubbing: mask every decimal digit (phone / account / SSN
    * shapes) and report how many characters were redacted. Narrow,
    * codegen'd, linear — the shape of a full-corpus scrub pass.
    */
  def maskDigits(c: Column): Column = regexp_replace(c, "[0-9]", "X")

  /** Count of digit characters in the column (what maskDigits redacts). */
  def digitCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[0-9]", ""))

  // ───── structured-PII scrub (emails / IPv4 / phone shapes) ─────
  //
  // Patterns stay in the common Java-regex ∩ RE2 dialect (char classes,
  // bounded repeats, \b — no backreferences, no lookaround) so the exact
  // same pattern strings run in Spark codegen and in the DuckDB oracle.
  val emailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  // digit-led runs of digits/space/dash/parens ending in a digit (7+
  // chars) — phone shapes; '.' is deliberately NOT in the class so
  // decimals and (already-masked) IPs can't be eaten
  val phonePattern: String = "\\+?\\d[\\d() -]{5,}\\d"

  /** Structured-PII scrub — the curation pass the digit-only `maskDigits`
    * generalizes into (reference masking doctrine applied to content):
    * mask emails, then IPv4 addresses, then phone-shaped number runs,
    * each with a category token, and report per-category match counts.
    * The order is load-bearing: emails carry digits a phone pattern
    * could eat, and IPs must be gone before the phone class scans digit
    * runs. Counts are taken on the stage each pattern actually sees, so
    * they equal the number of replacements made. Narrow, codegen'd,
    * linear — zero shuffle on a 100 TB scrub.
    */
  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t0 = col(textCol)
    val nEmail = regexp_count(t0, lit(emailPattern))
    val t1 = regexp_replace(t0, emailPattern, "<EMAIL>")
    val nIp = regexp_count(t1, lit(ipv4Pattern))
    val t2 = regexp_replace(t1, ipv4Pattern, "<IP>")
    val nPhone = regexp_count(t2, lit(phonePattern))
    val t3 = regexp_replace(t2, phonePattern, "<PHONE>")
    // column-preserving (one narrow projection, no join to rejoin the
    // scrub onto its row); codegen subexpression elimination shares the
    // nested replace chain between the counts and the final text
    docs.withColumn("text_scrubbed", t3)
      .withColumn("n_emails", nEmail.cast(LongType))
      .withColumn("n_ipv4", nIp.cast(LongType))
      .withColumn("n_phones", nPhone.cast(LongType))
  }

  /** Deterministic source-mix sampling (corpus re-weighting): keep each
    * document with a per-source acceptance rate, decided by a
    * content-hash bucket in [0, 1000). The md5-derived bucket makes
    * membership a pure function of the text — stable across engines,
    * reruns, cluster sizes and repartitioning, where rand() is none of
    * those. Downsampling only (rate ≤ 1000); upsampling is a separate
    * explode-by-weight concern.
    */
  def hashBucket(c: Column, buckets: Int = 1000): Column =
    pmod(conv(substring(md5(c), 1, 4), 16, 10).cast(LongType), lit(buckets.toLong))

  /** Hex-threshold split of a cluster label — s10/s11's assignment rule
    * (md5 of the label's decimal rendering; 'c0'/'e0' ≈ 75/12.5/12.5).
    */
  def splitOfLabel(c: Column): Column = {
    val h = md5(c.cast(org.apache.spark.sql.types.StringType))
    when(h < "c0", "train").when(h < "e0", "val").otherwise("test")
  }

  /** The s11 DECISION step: given the corpus's frozen cluster labels
    * (`prev` — corpus-only clustering, singletons implicit) and the
    * post-batch labels (`newLab` — ccIncremental over the delta pairs),
    * assign every batch doc a split. Corpus splits are FROZEN at first
    * assignment; a batch doc adopts its component's frozen split when
    * unambiguous, hashes a fresh label when it touches no corpus doc,
    * and surfaces 'conflict' when it bridges clusters frozen to
    * different splits (no assignment avoids leakage there — quarantine,
    * don't hash it away). The per-cluster split census is semi-filtered
    * to batch-touched clusters, so per-batch cost tracks the batch.
    */
  def incrementalSplit(corpusIds: DataFrame, batchIds: DataFrame,
      prev: DataFrame, newLab: DataFrame): DataFrame =
    incrementalSplitFrom(corpusIds
        .join(prev.withColumnRenamed("cluster_id", "pc"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          splitOfLabel(coalesce(col("pc"), col("doc_id"))).as("fs")),
      batchIds, newLab)

  /** The decision core of `incrementalSplit`, taking the frozen splits
    * EXPLICITLY as (doc_id, fs) rows — the streaming service passes what
    * it actually ASSIGNED historically (its stored table), which is the
    * true freeze contract once assignments span multiple waves; the batch
    * wrapper above derives them from the corpus-only clustering (the
    * s10-of-the-corpus definition the s11 oracle replays). A stored
    * 'conflict' participates in the census like any split value, so a
    * cluster that ever produced a conflict keeps quarantining its future
    * members (census size ≥ 2) instead of silently resolving.
    */
  def incrementalSplitFrom(frozen: DataFrame, batchIds: DataFrame,
      newLab: DataFrame): DataFrame = {
    def labOf(ids: DataFrame): DataFrame =
      ids.join(newLab, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val batchLab = labOf(batchIds).localCheckpoint(true)
    val touched = batchLab.select(col("cluster_id")).distinct()
    val census = labOf(frozen.select(col("doc_id")))
      .join(touched, Seq("cluster_id"), "left_semi")
      .join(frozen, Seq("doc_id"))
      .groupBy(col("cluster_id")).agg(collect_set(col("fs")).as("ss"))
    batchLab.join(census, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        when(size(col("ss")) === 1, element_at(col("ss"), 1))
          .when(size(col("ss")) >= 2, lit("conflict"))
          .otherwise(splitOfLabel(col("cluster_id"))).as("split"))
  }

  /** One wave of the split-assignment service — the shared core of
    * `Streams.splitStream` and the `split serve` CLI. Assigns
    * leakage-safe splits to `batch` against the state in `store`
    * (DedupIndexStore tables + `clusters` + `splits`), hands the
    * assignment to `write` (the caller's idempotent output — a
    * batch-keyed parquet overwrite), then commits the state: clusters
    * swap, splits append (anti-joined), index mutation LAST so the
    * index's `sets` table is the replay guard. Before the first wave no
    * index exists: the wave clusters itself and BUILDS the index (a
    * parquet table can't be created empty — no schema to infer back).
    * Returns the number of docs assigned (0 = replay of an absorbed
    * batch, nothing written).
    *
    * Replay safety, step by step: a crash before the index mutation
    * leaves `fresh` non-empty on replay, and every earlier step
    * re-derives identically — the assignment is self-consistent under
    * its own frozen rows (a batch doc's prior assignment only adds its
    * OWN split to its cluster's census), `write` is idempotent by
    * contract, the clusters swap is a pure function of merged state,
    * and the splits append anti-joins docs already assigned. A crash
    * inside the index mutation degrades per DedupIndexStore's own
    * append guard (duplicate candidates, never wrong pairs).
    */
  def splitServe(store: graft.etl.ParquetTableStore, batch: DataFrame,
      threshold: Double = 0.8)(write: DataFrame => Unit): Long = {
    val hasIdx = DedupIndexStore.tables.forall(store.exists)
    val fresh0 = batch.dropDuplicates("doc_id")
    val fresh = (if (hasIdx)
        fresh0.join(store.read("sets").select(col("doc_id")),
          Seq("doc_id"), "left_anti")
      else fresh0).localCheckpoint(true)
    val n = fresh.count()
    if (n > 0) {
      val ids = fresh.select(col("doc_id"))
      val frozen =
        if (store.exists("splits"))
          store.read("splits").select(col("doc_id"), col("split").as("fs"))
        else ids.select(col("doc_id"), col("doc_id").cast(StringType).as("fs")).limit(0)
      val newLab = (if (hasIdx) {
          // store contract: the dedup-index tables normally travel with a
          // `clusters` table this service wrote on an earlier wave. A
          // store ADOPTED from `dedupidx build` has the index but no
          // cluster state yet — bootstrap it from the index's own pairs
          // (one-time corpus-shaped self-join; see
          // DedupIndexStore.selfPairs) instead of throwing on the read.
          val prev =
            if (store.exists("clusters")) store.read("clusters")
            else TextDedup.connectedComponents(DedupIndexStore.selfPairs(store))
          TextDedup.ccIncremental(prev,
            DedupIndexStore.pairsIncremental(store, fresh, n = 3, threshold))
        } else TextDedup.connectedComponents(
          TextDedup.prefixFilterPairs(fresh, n = 3, threshold)))
        .localCheckpoint(true)
      val assigned = incrementalSplitFrom(frozen, ids, newLab)
        .localCheckpoint(true)
      write(assigned)
      store.overwrite("clusters", newLab)
      store.append("splits",
        assigned.select(col("doc_id"), col("split"))
          .join(frozen.select(col("doc_id")), Seq("doc_id"), "left_anti"))
      if (hasIdx) DedupIndexStore.append(store, fresh)
      else DedupIndexStore.build(store, fresh, n = 3,
        tJac = threshold, tCont = threshold)
    }
    n
  }

  /** Adjudicate QUARANTINED clusters — the resolution step the s11/serve
    * doctrine defers: bridges between clusters frozen to different
    * splits surface as 'conflict' and the quarantine only grows (a
    * cluster that ever conflicted keeps census ≥ 2 by design), so a
    * deployment eventually reassigns each quarantined cluster to ONE
    * split. Policy: majority vote of the cluster's members holding a
    * real split (train/val/test — 'conflict' rows don't vote), ties
    * broken deterministically to the lexicographically smallest split;
    * a quarantined cluster with zero real-split members (unreachable
    * through the serve path, but a store is data) falls back to the
    * cluster-label hash. The WHOLE cluster — frozen members included —
    * moves to the winner, so post-resolution no near-dup pair straddles
    * splits, no 'conflict' row survives, and the cluster's census is
    * size 1: every future member adopts the resolved split instead of
    * re-quarantining. Reference anchor: the priority-dedup doctrine
    * (alembic/versions/b80da1af78f7:22-43) — a deterministic rule
    * adjudicates among conflicting copies — applied to split ownership.
    *
    * Inputs: `splits` (doc_id, split — 'conflict' rows included) and
    * `clusters` (doc_id, cluster_id; singletons may be implicit).
    * Output: (doc_id, cluster_id, split, changed) over every `splits`
    * row — the full rewritten assignment, `changed` = 1 where the
    * resolution moved the doc.
    *
    * Scale shape: two hash aggregations keyed on cluster_id (census →
    * votes, both map-side-combining) plus a semi/left join of the
    * corpus-sized table against the quarantine-sized winner table — no
    * window over the corpus, no self-join; the winner side is
    * conflict-count-sized and broadcasts.
    */
  /** Splits with their CURRENT cluster label (unclustered docs label
    * themselves) — the input both the quarantine probe and the full
    * resolution share.
    */
  private def labeledSplits(splits: DataFrame, clusters: DataFrame): DataFrame =
    splits.join(clusters.withColumnRenamed("cluster_id", "cl"),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cl"), col("doc_id")))
      .drop("cl")

  /** Quarantined cluster ids: split census disagrees, or any 'conflict'
    * row at all (the second clause is defensive: through the serve path
    * a conflict row always coexists with the ≥ 2 frozen splits that
    * caused it). Quarantine-sized output from one map-side-combining
    * aggregation — the cheap probe `resolveConflictsInStore` runs
    * BEFORE committing to the corpus-sized rewrite.
    */
  private def quarantineOf(lab: DataFrame): DataFrame =
    lab.groupBy(col("cluster_id"))
      .agg(collect_set(col("split")).as("ss"))
      .filter(size(col("ss")) >= 2 || array_contains(col("ss"), "conflict"))
      .select(col("cluster_id"))

  def resolveConflicts(splits: DataFrame, clusters: DataFrame): DataFrame = {
    val lab = labeledSplits(splits, clusters)
    val quarantined = quarantineOf(lab)
    val votes = lab.join(quarantined, Seq("cluster_id"), "left_semi")
      .filter(col("split") =!= "conflict")
      .groupBy(col("cluster_id"), col("split"))
      .agg(count(lit(1)).as("n_votes"))
    // argmax votes, tie → smallest split name: min over the
    // (−votes, split) struct is exactly ORDER BY n DESC, split ASC rn=1
    val winner = votes.groupBy(col("cluster_id"))
      .agg(min_by(col("split"),
        struct((-col("n_votes")).as("nv"), col("split").as("sp"))).as("resolved"))
    val resolvedAll = quarantined.join(winner, Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        coalesce(col("resolved"), splitOfLabel(col("cluster_id"))).as("resolved"))
    lab.join(resolvedAll, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("resolved"), col("split")).as("split"),
        when(col("resolved").isNotNull && col("resolved") =!= col("split"), 1L)
          .otherwise(0L).as("changed"))
  }

  /** `resolveConflicts` against a split-service store (the `split
    * resolve` CLI): read `splits` + `clusters`, rewrite `splits` with
    * the adjudicated assignment, return how many docs moved. Re-running
    * is a no-op (0 moved, nothing written): post-resolution every
    * census is size 1 and no 'conflict' row survives, so the quarantine
    * is empty. Crash-safe by the store's atomic table swap — a reader
    * sees the old assignment or the new one, never a mix.
    */
  def resolveConflictsInStore(store: graft.etl.ParquetTableStore): Long = {
    require(store.exists("splits") && store.exists("clusters"),
      "split resolve needs a store with `splits` and `clusters` tables " +
        "(a state dir previous `split serve` waves wrote)")
    val splits = store.read("splits")
    val clusters = store.read("clusters")
    // replay fast path: the common case (resolve on a cadence, most runs
    // find nothing quarantined) used to localCheckpoint the full
    // rewritten assignment just to learn changed == 0 — probe the
    // quarantine first (one map-side-combining agg, quarantine-sized
    // output) and skip the corpus-sized materialization entirely
    if (quarantineOf(labeledSplits(splits, clusters)).isEmpty) 0L
    else {
      val out = resolveConflicts(splits, clusters).localCheckpoint(true)
      val changed = out.filter(col("changed") === 1L).count()
      if (changed > 0)
        store.overwrite("splits", out.select(col("doc_id"), col("split")))
      changed
    }
  }

  /** e2e12's terminal stage as a reusable function: deterministic
    * shuffle (rank of md5(seed:id)) + token packing fused into ONE
    * prefix-sum pass, aggregated to the md5-pinned shard manifest.
    * Input is the admitted train corpus as (doc_id, n_tokens) — shared
    * by the one-shot export query, the streamed front door
    * (`exportServe`), and the specs that pin them equal.
    */
  def shardManifest(toks0: DataFrame, seed: String, budget: Long,
      seqsPerShard: Long): DataFrame = {
    // a non-positive divisor would make the integer DIVs yield null
    // seq_id/shard_id rows SILENTLY — fail loudly like the merge/refreeze
    // verbs validate their parameters
    require(budget > 0, s"shardManifest: budget must be positive (got $budget)")
    require(seqsPerShard > 0,
      s"shardManifest: seqsPerShard must be positive (got $seqsPerShard)")
    val toks = toks0.select(col("doc_id"),
      md5(concat(lit(seed + ":"), col("doc_id").cast(StringType))).as("skey"),
      col("n_tokens"))
    GlobalOrder.cumSum(toks, struct(col("skey"), col("doc_id")), col("n_tokens"))
      .withColumn("seq_id", expr(s"(cum - n_tokens) DIV $budget"))
      .withColumn("shard_id", expr(s"seq_id DIV $seqsPerShard"))
      .groupBy(col("shard_id"))
      .agg(count_distinct(col("seq_id")).as("n_seqs"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws(",", transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast(StringType)))).as("content_md5"))
  }

  /** One wave of the STREAMED export front door — e2e12 as a service
    * over the split-service state: gate the batch (Gopher conjunction,
    * stateless per-doc), run `splitServe` (delta pairs from the stored
    * dedup index, frozen-split census, state absorbed), admit the
    * wave's canonical train docs (cluster label == own id ∧ split ==
    * 'train') into the `admitted` table, and regenerate the shard
    * manifest over everything admitted so far. Returns (docs assigned
    * this wave, manifest) — 0 with an unchanged manifest for a
    * replayed absorbed batch.
    *
    * Composition contract (spec-pinned): for waves arriving in
    * ascending doc_id order with no cross-split cluster merge, the
    * final manifest EQUALS the one-shot e2e12 export over the union
    * corpus — admission is min-id canonical exactly when the cluster
    * minimum arrives no later than its members (ascending waves
    * guarantee it), and frozen cluster labels then equal the one-shot
    * labels so the split hashes agree. Out-of-order arrival degrades
    * to FIRST-WINS canonical (the d22 keep doctrine) — a legitimate
    * streaming dedup semantics, just not bit-equal to the min-id batch
    * export; bridges between differently-frozen clusters quarantine as
    * 'conflict' (excluded from export) until `split resolve`.
    *
    * Cost shape per wave: gate + serve are batch-shaped (the splitServe
    * argument); the manifest regeneration is one prefix-sum pass over
    * the ADMITTED corpus — that pass IS the export artifact a
    * deployment re-ships after each wave, and (doc_id, n_tokens) rows
    * are ~16 B/doc, so even the corpus-shaped term reads a table three
    * orders of magnitude narrower than the documents.
    *
    * Replay safety on top of splitServe's: the admitted append runs
    * inside the assignment callback (before the index absorb — the
    * replay guard), anti-joined on already-admitted ids, so a crash
    * anywhere replays to the identical admitted set.
    */
  def exportServe(store: graft.etl.ParquetTableStore, batch: DataFrame,
      threshold: Double = 0.8, budget: Long = 1024L, seqsPerShard: Long = 4L)(
      writeAssignments: DataFrame => Unit): (Long, DataFrame) = {
    val gated = batch.join(TextQuality.gopherRules(batch)
        .filter(col("passes") === 1).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    // splitServe tolerates duplicate doc_id rows within a wave
    // (dropDuplicates on its fresh set); the export tables must share
    // that contract — an un-deduplicated nTok would write duplicated
    // (doc_id, n_tokens) rows into `gated`/`admitted` (appendFresh's
    // anti-join only guards against EARLIER waves), permanently
    // double-counting the shard manifest
    val nTok = Par.fan(gated.dropDuplicates("doc_id")).select(col("doc_id"),
      TextStats.wsTokenCount(col("text")).cast(LongType).as("n_tokens"))
    val n = splitServe(store, gated, threshold) { assigned =>
      writeAssignments(assigned)
      // every gate-passing doc's token count persists (admitted or not):
      // `exportReconcile` needs the full gated population to re-derive
      // admission after a `split resolve` moves quarantined clusters
      def appendFresh(table: String, rows: DataFrame): Unit = {
        val fresh =
          if (store.exists(table))
            rows.join(store.read(table).select(col("doc_id")),
              Seq("doc_id"), "left_anti")
          else rows
        // never CREATE a table from an empty wave (a data-less parquet
        // dir has no schema to infer back); empty appends are skipped
        // for the job they'd waste
        if (!fresh.isEmpty) store.append(table, fresh)
      }
      appendFresh("gated",
        assigned.select(col("doc_id")).join(nTok, Seq("doc_id")))
      appendFresh("admitted", assigned
        .filter(col("cluster_id") === col("doc_id") && col("split") === "train")
        .join(nTok, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens")))
    }
    val manifest =
      if (store.exists("admitted"))
        shardManifest(store.read("admitted"), "42", budget, seqsPerShard)
          .orderBy(col("shard_id"))
      else batch.sparkSession.emptyDataFrame
    (n, manifest)
  }

  /** Reconcile the export's `admitted` table with the CURRENT split and
    * cluster state — the composition that closes the resolution loop:
    * `exportServe` decides admission at arrival time, so a doc
    * quarantined as 'conflict' is never exported even after `split
    * resolve` moves its cluster to train, and a canonical doc whose
    * cluster resolved AWAY from train keeps shipping. This re-derives
    * admission for the whole gated population (the `gated` table keeps
    * every gate-passer's token count exactly for this) under the stored
    * `splits`/`clusters` as they are NOW: admitted = gated ∧ canonical
    * (cluster label == own id) ∧ split == 'train'. Returns (docs whose
    * admission flipped, regenerated manifest); 0 with an unchanged
    * table on replay — run it after `split resolve`, or any time state
    * maintenance may have moved splits.
    *
    * Scale shape: three joins keyed on doc_id over the gated table
    * (KB-per-million narrow rows), no window, no self-join; the
    * flipped-count is two anti-joins of admission-sized sides.
    */
  def exportReconcile(store: graft.etl.ParquetTableStore,
      budget: Long = 1024L, seqsPerShard: Long = 4L): (Long, DataFrame) = {
    require(store.exists("gated") && store.exists("splits") &&
        store.exists("clusters"),
      "export reconcile needs a store with `gated`, `splits` and `clusters` " +
        "tables (a state dir previous `export serve` waves wrote)")
    val lab = store.read("gated")
      .join(store.read("clusters").withColumnRenamed("cluster_id", "cl"),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cl"), col("doc_id")))
    val adm = lab.join(store.read("splits"), Seq("doc_id"))
      .filter(col("cluster_id") === col("doc_id") && col("split") === "train")
      .select(col("doc_id"), col("n_tokens"))
      .localCheckpoint(true)
    val before =
      if (store.exists("admitted")) store.read("admitted")
      else adm.limit(0)
    val flipped =
      adm.join(before.select(col("doc_id")), Seq("doc_id"), "left_anti").count() +
        before.join(adm.select(col("doc_id")), Seq("doc_id"), "left_anti").count()
    if (flipped > 0) store.overwrite("admitted", adm)
    (flipped, shardManifest(adm, "42", budget, seqsPerShard)
      .orderBy(col("shard_id")))
  }

  /** Takedown composed with the export state — the day a source must
    * leave the corpus, "forget these docs" has to propagate through
    * every derived layer, and each layer has its own correct verb:
    *
    *  1. the dedup index forgets the docs (`DedupIndexStore.retract` —
    *     equals a never-indexed build);
    *  2. cluster labels RE-DERIVE from the remaining pairs (a retracted
    *     bridge un-merges the clusters it joined; a retracted min-id
    *     doc yields a new canonical label);
    *  3. frozen splits for the SURVIVORS stay frozen — takedown-after
    *     is deliberately NOT never-present: a doc's split was hashed
    *     from its cluster label at arrival time and moving it would
    *     leak eval data across splits, so only the retracted rows
    *     leave (`split resolve` remains the tool if a formerly
    *     quarantined cluster is now separable);
    *  4. gated/admitted drop the retracted rows, and admission
    *     re-derives under the NEW labels and the FROZEN splits
    *     (`exportReconcile`) — a doc whose cluster-mate was the
    *     canonical train representative flips INTO the export when the
    *     takedown makes it canonical.
    *
    * Returns reconcile's (flipped, manifest). Replay-safe: retracting
    * already-absent ids is a no-op at every layer.
    */
  def exportRetract(store: graft.etl.ParquetTableStore, ids0: DataFrame,
      budget: Long = 1024L, seqsPerShard: Long = 4L): (Long, DataFrame) = {
    val ids = ids0.select(col(ids0.columns.head).as("doc_id"))
      .localCheckpoint(true)
    DedupIndexStore.retract(store, ids)
    store.overwrite("clusters",
      TextDedup.connectedComponents(DedupIndexStore.selfPairs(store)))
    // `admitted` is NOT pre-dropped: reconcile re-derives admission from
    // the shrunk `gated` (so retracted docs fall out of it there) and
    // diffs against the pre-takedown admitted table — `flipped` then
    // reports the takedown's FULL admission delta, removals and
    // promotions both
    for (t <- Seq("splits", "gated") if store.exists(t))
      store.overwrite(t, store.read(t).join(ids, Seq("doc_id"), "left_anti"))
    exportReconcile(store, budget, seqsPerShard)
  }

  /** The full export LIFECYCLE over a wave sequence, built once per
    * corpus and cached (the ensureClusters doctrine): serve every wave
    * through the front door, adjudicate whatever quarantined
    * (`resolveConflictsInStore`), and reconcile admissions under the
    * resolved splits — the loop a deployment runs when cross-split
    * bridges arrive. Every stage is individually replay-safe (absorbed
    * waves assign 0, resolve and reconcile are no-ops at a fixed
    * point), so the cache marker only saves the re-run, it is not
    * needed for correctness.
    */
  def ensureExportLoop(corpusDir: String, waves: Seq[DataFrame],
      threshold: Double, tag: String): graft.etl.ParquetTableStore =
    cachedLoop(s"xloop1_${tag}_${(threshold * 1000).toInt}", corpusDir, waves,
        threshold) { store =>
      resolveConflictsInStore(store)
      exportReconcile(store)
    }

  /** ensureExportLoop's takedown sibling: serve the waves, then
    * `exportRetract` the given ids — the e2e14 serving state. Same
    * fixed-point replay argument.
    */
  def ensureTakedownLoop(corpusDir: String, waves: Seq[DataFrame],
      retractIds: DataFrame, threshold: Double,
      tag: String): graft.etl.ParquetTableStore =
    cachedLoop(s"xtd1_${tag}_${(threshold * 1000).toInt}", corpusDir, waves,
        threshold) { store =>
      exportRetract(store, retractIds)
    }

  /** Serve every wave into a fresh export store, then `finish` it — built
    * once per (corpus dir, mtime, name) under the index root.
    */
  private def cachedLoop(name: String, corpusDir: String, waves: Seq[DataFrame],
      threshold: Double)(
      finish: graft.etl.ParquetTableStore => Unit): graft.etl.ParquetTableStore = {
    require(waves.nonEmpty, "need at least one wave")
    val spark = waves.head.sparkSession
    new graft.etl.ParquetTableStore(spark, graft.etl.StateCache.ensure(
        graft.etl.StateCache.indexRoot, name, corpusDir, "documents.parquet") { p =>
      val store = new graft.etl.ParquetTableStore(spark, p)
      waves.foreach(w => exportServe(store, w, threshold)(_ => ()))
      finish(store)
    })
  }

  def mixSample(docs: DataFrame, ratePermille: Column,
      textCol: String = "text"): DataFrame =
    docs.where(hashBucket(col(textCol)) < ratePermille)

  /** Upsampling flavor of the mix: rate > 1000 permille replicates each
    * document floor(rate/1000) times plus one more when its hash bucket
    * falls under the fractional remainder — so a 2600-permille source
    * emits exactly 2.6× its docs in expectation, deterministically (the
    * SAME docs get the extra copy on every run and every engine).
    * `copy_idx` disambiguates replicas downstream (epoch-style training
    * repeats). One narrow explode; output is linear in Σ rates.
    */
  def upsample(docs: DataFrame, ratePermille: Column,
      textCol: String = "text"): DataFrame = {
    val copies = floor(ratePermille.cast(LongType) / lit(1000L)).cast(LongType) +
      when(hashBucket(col(textCol)) < pmod(ratePermille.cast(LongType), lit(1000L)), 1L)
        .otherwise(0L)
    docs.withColumn("__copies", copies)
      .where(col("__copies") > 0)
      .withColumn("copy_idx", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  /** Stride-scheduled curriculum interleave — the data-ORDER side of the
    * mix family (mx1-mx5 decide how much of each source; this decides
    * WHEN): source s with integer weight w_s emits its r-th document at
    * virtual time (2r−1)/2w_s, so the global reading order interleaves
    * sources proportionally to weight with bounded burstiness (classic
    * stride scheduling). Weights are ⌊1000·√n_s⌋ — temperature-τ=2
    * source shares, the mx3 doctrine — and within-source order is the
    * md5(seed:id) shuffle, so the whole schedule is reproducible across
    * engines, reruns and cluster sizes.
    *
    * Scale: within-source rank AND global position both come from
    * GlobalOrder.cumSum (range repartition + broadcast offsets), never a
    * per-source or global single-task window — a corpus-sized source
    * costs the same as a corpus of small ones. The per-source
    * offset/weight table is source-count-sized and broadcast. Virtual
    * keys are exact integers ((2r−1)·10^8 DIV w_milli), so there is no
    * float ordering to disagree on; key ties break by (source, id).
    *
    * BIGINT headroom (the deterministicShuffle doctrine): vkey's
    * numerator (2·src_rank − 1)·10^8 must stay under 2^63, so any single
    * source is bounded at src_rank < ~4.6e10 rows — beyond that the key
    * wraps and the interleave order is garbage. The 10^8 scale is chosen
    * to match: strides stay integer-EXACT up to w_milli = 10^8 (a 10^10-
    * row source under the ⌊1000·√n⌋ weight rule), so exactness and
    * overflow give out at the same order of magnitude; shrinking the
    * scale would buy range the weight rule can't use without losing
    * stride granularity first.
    */
  def curriculumInterleave(docs: DataFrame, idCol: String, srcCol: String,
      seed: String): DataFrame = {
    val keyed = docs.select(col(idCol), col(srcCol),
      md5(concat(lit(seed), lit(":"), col(idCol).cast(StringType))).as("skey"))
    val counts = keyed.groupBy(col(srcCol)).agg(count(lit(1)).as("n_s"))
    // source-count-sized: the unpartitioned window runs over one row per
    // source, not the corpus
    val wSrc = org.apache.spark.sql.expressions.Window.orderBy(col(srcCol))
      .rowsBetween(Long.MinValue, -1)
    val weights = counts
      .withColumn("offset", coalesce(sum(col("n_s")).over(wSrc), lit(0L)))
      .withColumn("w_milli",
        floor(sqrt(col("n_s").cast(DoubleType)) * 1000d).cast(LongType))
      .select(col(srcCol), col("offset"), col("w_milli"))
    val ranked = GlobalOrder.cumSum(keyed,
        struct(col(srcCol), col("skey"), col(idCol)), lit(1))
      .join(broadcast(weights), Seq(srcCol))
      .withColumn("src_rank", col("cum") - col("offset"))
      .withColumn("vkey", expr("((2 * src_rank - 1) * 100000000) DIV w_milli"))
      .drop("cum")
    GlobalOrder.cumSum(ranked,
        struct(col("vkey"), col(srcCol), col(idCol)), lit(1))
      .select(col(idCol), col(srcCol), col("src_rank"), col("vkey"),
        col("cum").as("pos"))
  }

  /** Token-window chunking: split each document into fixed-size word
    * windows with overlap (stride < size), the standard pre-training
    * sequence-preparation step. One narrow explode per doc — no shuffle;
    * chunk count per doc is ceil-ish in n/stride, so output size is
    * linear in corpus size.
    */
  def tokenChunks(docs0: DataFrame, chunkSize: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(stride >= 1 && chunkSize >= stride,
      s"need 1 <= stride <= chunkSize, got size=$chunkSize stride=$stride")
    val docs = Par.fan(docs0)
    val words = split(TextDedup.normalizeText(col(textCol)), " ")
    docs.select(col(idCol), words.as("w"), size(words).as("n"))
      .select(col(idCol), col("w"), col("n"),
        explode(sequence(lit(1), col("n"), lit(stride))).as("chunk_start"))
      .select(col(idCol), col("chunk_start"),
        least(lit(chunkSize), col("n") - col("chunk_start") + 1)
          .cast(LongType).as("chunk_len"),
        element_at(col("w"), col("chunk_start")).as("first_token"))
  }
}
