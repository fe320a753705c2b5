package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{ParquetTableStore, StateCache}

/** Vector similarity over an embedding column (array<float>):
  * brute-force cosine (the exact baseline) and random-hyperplane LSH
  * bucketing (the approximate scale path).
  *
  * Everything is pure Column arithmetic (zip_with/aggregate — codegen'd,
  * no UDF): dot = Σ aᵢbᵢ left-to-right in double, cosine =
  * dot/√(Σaᵢ²·Σbᵢ²).
  *
  * Scale notes (100 TB): brute force is O(|Q|·|C|) — fine when one side is
  * small and broadcast (top-k against a query batch), wrong for all-pairs.
  * The LSH variant shuffles on (table, bucket) keys so candidate
  * generation stays linear in corpus size × tables; recall is tuned by
  * bitsPerTable/numTables, and buckets are bounded groups, so skew is
  * capped. An IVF refinement (k-means coarse quantizer) would slot in the
  * same bucket-join shape.
  */
object Similarity {
  import graft.functions.VectorFunctions.dotp

  private def asDouble(v: Column): Column = v.cast(ArrayType(DoubleType))

  /** Codegen'd dot product (graft.functions.DotProduct) — identical
    * left-to-right double accumulation to the zip_with formulation.
    */
  def dot(a: Column, b: Column): Column = dotp(a, b)

  def norm2(a: Column): Column = dot(a, a)

  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    dot(ad, bd) / sqrt(norm2(ad) * norm2(bd))
  }

  /** Exact top-k cosine neighbors for each query vector. `queries` is the
    * SMALL side (a query batch) and is broadcast; candidates stream
    * through a single pass. Self-matches (same id) excluded.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    // norms computed ONCE per row on each side, not per pair
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv")).withColumn("qn2", norm2(col("qv"))))
    val c = candidates.select(col("vec_id").as("neighbor_id"),
      asDouble(col("embedding")).as("cv")).withColumn("cn2", norm2(col("cv")))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / sqrt(col("qn2") * col("cn2")))
    // narrow 3-column projection BEFORE the ranking window: Spark plans a
    // partial WindowGroupLimit under the exchange (rank-filter pushdown),
    // so the sort-shuffle sees ≤ partitions·k rows per query, not the
    // |Q|·|C| scored set — and the vectors never ride the shuffle.
    // PlanSpec pins the partial-limit plan shape.
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.select(col("query_id"), col("neighbor_id"), col("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("cos").cast(DecimalType(18, 6)).cast(DoubleType).as("cos"))
  }

  /** All near-duplicate pairs with cosine ≥ minCos — exact O(n²) baseline
    * (the LSH path below is the scale answer; this is the oracle).
    */
  def cosineNearDupPairs(embeddings: DataFrame, minCos: Double): DataFrame = {
    // norms once per row per side; the pair row only pays one dot product
    val a = embeddings.select(col("vec_id").as("id_a"), asDouble(col("embedding")).as("va"))
      .withColumn("na2", norm2(col("va")))
    val b = embeddings.select(col("vec_id").as("id_b"), asDouble(col("embedding")).as("vb"))
      .withColumn("nb2", norm2(col("vb")))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / sqrt(col("na2") * col("nb2")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos").cast(DecimalType(18, 6)).cast(DoubleType).as("cos"))
  }

  // ───── random-hyperplane LSH ─────

  /** Deterministic gaussian hyperplanes: numTables × bitsPerTable planes
    * of dimension dim, seeded — reproducible across runs and executors.
    */
  def hyperplanes(dim: Int, numTables: Int, bitsPerTable: Int, seed: Long = 42L): Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numTables)(Seq.fill(bitsPerTable)(Array.fill(dim)(rnd.nextGaussian())))
  }

  /** (vec_id, table, bucket) rows: bucket = sign-bit pattern of the
    * vector against the table's hyperplanes.
    */
  def lshBuckets(embeddings: DataFrame, planes: Seq[Seq[Array[Double]]]): DataFrame = {
    val v = asDouble(col("embedding"))
    val bucketCols = planes.map { table =>
      table.zipWithIndex.map { case (p, i) =>
        val pc = typedLit(p.toSeq) // array literal, shipped inside the plan
        when(dot(v, pc) >= 0, shiftleft(lit(1), i)).otherwise(lit(0))
      }.reduce((x, y) => x.bitwiseOR(y))
    }
    embeddings.select(col("vec_id"), col("embedding"),
        posexplode(array(bucketCols: _*)))
      .select(col("vec_id"), col("embedding"),
        col("pos").as("table"), col("col").as("bucket"))
  }

  /** Approximate top-k: candidates = vectors sharing any (table, bucket)
    * with the query; exact cosine rescoring within candidates only.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numTables: Int = 8, bitsPerTable: Int = 4): DataFrame = {
    val dim = 64
    val planes = hyperplanes(dim, numTables, bitsPerTable)
    val qb = lshBuckets(queries, planes)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"),
        col("table"), col("bucket"))
    val cb = lshBuckets(corpus, planes)
      .select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"),
        col("table"), col("bucket"))
    // score at the join (narrow), THEN dedup: the dedup shuffle carries
    // (ids, cos), not two 64-double vectors per candidate row
    val scored = qb.join(cb, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / sqrt(norm2(col("qv")) * norm2(col("cv"))))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.select(col("query_id"), col("neighbor_id"), col("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("cos").cast(DecimalType(18, 6)).cast(DoubleType).as("cos"))
  }

  // ───── semantic deduplication ─────

  /** SemDeDup-style semantic deduplication (the embedding-space sibling
    * of the text dedup cascade): partition the corpus into cells, find
    * near-duplicate pairs only WITHIN a cell, and collapse each
    * similarity group to one canonical survivor. The corpus-wide n²
    * never happens — the pair self-join keys on the cell id (expected
    * n²/k comparisons), and every other stage is linear.
    *
    * Cells = nearest per-label centroid, where centroids are exact
    * decimal means (the emb2 sufficient-statistics discipline), so
    * assignment is deterministic and SQL-mirrorable and the WHOLE
    * operator — cells, pairs, cluster labels, keep flags — is
    * hash-checkable (cluster closure via d7's recursive-CTE trick). The
    * 100 TB path swaps in `IvfIndex.fit` k-means cells with k ~ √n:
    * the identical per-row argmax over a broadcast centroid array (no
    * shuffle), the identical cell-keyed pair join.
    *
    * Keep rule: min vec_id per connected component (the dedup family's
    * canonical convention; SemDeDup proper keeps the member farthest
    * from its centroid — swap the keep window for that policy).
    */
  /** Per-label centroids as a driver-side array (k × dim doubles —
    * bounded, the FAISS shape): exact decimal sums per dim (associative,
    * partition-order-free), ONE double division at the end — the emb2
    * sufficient-statistics discipline, so centroids are deterministic
    * and bit-identical to an oracle computing the same decimal means.
    */
  def labelCentroids(embeddings: DataFrame): Array[(Int, Array[Double])] =
    embeddings
      .select(col("label"), posexplode(asDouble(col("embedding"))))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col").cast(DecimalType(18, 6))).as("s6"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("s6").cast(DoubleType) / col("n")).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cent"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)

  /** Embedding-distribution drift monitor (the dq family's
    * embedding-space member): per label, the cosine between the EXISTING
    * cohort's centroid and the INCOMING cohort's — a semantic-shift
    * alarm for an arriving batch (topic drift, encoder version skew,
    * upstream corruption) that length/score monitors (dq3/dq4) cannot
    * see. Centroids are the emb2 decimal-exact means, cosine rounds
    * through the proven DECIMAL(18,6) protocol, so the whole monitor is
    * hash-checkable. Cost: one per-(label, dim) partial aggregation per
    * side (map-side combine absorbs the corpus; k×64 rows emerge) and a
    * k-row join — no shuffle carries vectors.
    */
  def embeddingDrift(existing: DataFrame, incoming: DataFrame): DataFrame = {
    def cents(e: DataFrame): DataFrame = e
      .select(col("label"), posexplode(asDouble(col("embedding"))))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col").cast(DecimalType(18, 6))).as("s6"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("s6").cast(DoubleType) / col("n")).as("c"), col("n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cent"), max(col("n")).as("n"))
    cents(existing).select(col("label"), col("cent").as("co"), col("n").as("n_old"))
      .join(cents(incoming).select(col("label"), col("cent").as("cn"),
        col("n").as("n_new")), Seq("label"))
      .select(col("label"), col("n_old"), col("n_new"),
        (dot(col("co"), col("cn")) / sqrt(norm2(col("co")) * norm2(col("cn"))))
          .cast(DecimalType(18, 6)).cast(DoubleType).as("cos_drift"))
  }

  /** Cell assignment: per-row argmax cosine over the centroid literals —
    * zero shuffle; ties break to the smallest cell id via struct
    * ordering. Output (vec_id, cell, emb, n2).
    */
  def assignCells(embeddings: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame = {
    val scored = cents.map { case (cell, c) =>
      val c2 = c.map(x => x * x).sum // same left-to-right double sum as norm2
      struct((lit(-1.0) * (dot(col("emb"), typedLit(c.toSeq)) /
        sqrt(col("n2") * lit(c2)))).as("negcs"), lit(cell).as("cell"))
    }
    embeddings.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("n2", norm2(col("emb")))
      .withColumn("cell", array_min(array(scored.toIndexedSeq: _*)).getField("cell"))
      .select(col("vec_id"), col("cell"), col("emb"), col("n2"))
  }

  /** Near-dup pairs BETWEEN two assigned sides, joined on the cell —
    * the quadratic work is cell-bounded, never corpus-wide. `lowerOnly`
    * keeps a.vec_id < b.vec_id (self-join); otherwise any cross pair is
    * canonicalized to (min, max).
    */
  private def cellPairs(a0: DataFrame, b0: DataFrame, minCos: Double,
      lowerOnly: Boolean): DataFrame = {
    val a = a0.select(col("cell"), col("vec_id").as("id_a"),
      col("emb").as("va"), col("n2").as("na2"))
    val b = b0.select(col("cell"), col("vec_id").as("id_b"),
      col("emb").as("vb"), col("n2").as("nb2"))
    val joined = a.join(b, Seq("cell"))
      .withColumn("cos", dot(col("va"), col("vb")) / sqrt(col("na2") * col("nb2")))
      .filter(col("cos") >= minCos)
    val base =
      if (lowerOnly) joined.filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      else joined.filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
    base
  }

  /** The public face of `cellPairs` — the within/cross-cell qualifying
    * pair scoring, exposed so state maintainers (the semdedup CLI store,
    * the retract == never-indexed specs) score pairs with EXACTLY the
    * operator's arithmetic instead of re-deriving it.
    */
  def semanticPairs(a: DataFrame, b: DataFrame, minCos: Double,
      lowerOnly: Boolean = true): DataFrame =
    cellPairs(a, b, minCos, lowerOnly)

  /** Cluster rows (vec_id, cell, cluster_id, kept) from an assigned
    * table + CC labels — the one derivation every semantic-dedup
    * surface (inline, served, incremental, retracted) shares: members
    * in no pair label themselves, keep = min-id canonical.
    */
  def clustersFrom(assigned: DataFrame, labels: DataFrame): DataFrame =
    assigned.select(col("vec_id"), col("cell"))
      .join(labels.select(col("doc_id").as("vec_id"), col("cluster_id")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("kept", (col("cluster_id") === col("vec_id")).cast(LongType))

  def semanticDedup(embeddings: DataFrame, minCos: Double): DataFrame = {
    val assigned = assignCells(embeddings, labelCentroids(embeddings))
    val pairs = cellPairs(assigned, assigned, minCos, lowerOnly = true)
    clustersFrom(assigned, TextDedup.connectedComponents(pairs))
  }

  /** INCREMENTAL semantic dedup — the frozen-quantizer doctrine applied
    * to SemDeDup: centroids are trained on the EXISTING corpus and
    * frozen (the add-after-train shape, like VectorIndexStore's PQ
    * append), the arriving batch assigns into those frozen cells, and
    * only new×new + new×existing pairs are scored — the existing corpus
    * never self-joins again. The batch's pair delta merges into the
    * existing labels through `TextDedup.ccIncremental` (delta-sized
    * reduced graph). Because old pairs ∪ delta pairs = ALL within-cell
    * pairs under the frozen cells, the composition equals a one-shot
    * closure with existing-corpus centroids — which is what the
    * registered oracle replays.
    */
  def semanticDedupIncremental(existing: DataFrame, incoming: DataFrame,
      minCos: Double): DataFrame = {
    val oldA = assignCells(existing, labelCentroids(existing))
    semanticDedupIncrementalFrom(
      TextDedup.connectedComponents(cellPairs(oldA, oldA, minCos, lowerOnly = true)),
      existing, incoming, minCos)
  }

  /** The merge step alone, with the existing corpus's labels supplied —
    * what a deployment runs per batch against its stored state
    * (`ensureSemanticClusters`). Centroids still derive from `existing`
    * only (frozen), so labels + this step compose to the one-shot.
    */
  def semanticDedupIncrementalFrom(prevLabels: DataFrame, existing: DataFrame,
      incoming: DataFrame, minCos: Double): DataFrame =
    semanticDedupMerge(labelCentroids(existing), prevLabels, existing,
      incoming, minCos)

  /** The merge step with the frozen centroids supplied EXPLICITLY — the
    * multi-batch product surface (app.Main `semdedup --incremental`):
    * centroids persist from the original batch build, so every later
    * batch assigns into the SAME cells regardless of how the corpus has
    * grown, and the accumulated pair set stays exactly "all within-cell
    * pairs under the frozen cells" — the invariant that makes N-batch
    * composition equal the one-shot.
    */
  def semanticDedupMerge(cents: Array[(Int, Array[Double])],
      prevLabels: DataFrame, existing: DataFrame,
      incoming: DataFrame, minCos: Double): DataFrame =
    semanticDedupMergeAssigned(cents, prevLabels, assignCells(existing, cents),
      incoming, minCos)

  /** The merge step with the existing side's cell rows supplied ALREADY
    * ASSIGNED (the persisted `assigned` table of `ensureSemanticState`)
    * — the serve shape that pays NO corpus-sized argmax per batch: only
    * the incoming batch is assigned; the existing corpus contributes its
    * stored (vec_id, cell, emb, n2) rows straight into the pair join.
    */
  def semanticDedupMergeAssigned(cents: Array[(Int, Array[Double])],
      prevLabels: DataFrame, oldA: DataFrame,
      incoming: DataFrame, minCos: Double): DataFrame = {
    val newA = assignCells(incoming, cents)
    val delta = cellPairs(newA, newA, minCos, lowerOnly = true)
      .unionByName(cellPairs(newA, oldA, minCos, lowerOnly = false))
      .dropDuplicates("id_a", "id_b")
    val merged = TextDedup.ccIncremental(prevLabels, delta)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    oldA.unionByName(newA).select(col("vec_id"), col("cell"))
      .join(merged, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("kept", (col("cluster_id") === col("vec_id")).cast(LongType))
  }

  // ───── stored semantic cluster state (the deployment shape for sem2) ─────

  private def cached(spark: org.apache.spark.sql.SparkSession, name: String,
      corpusDir: String)(build: String => Unit): ParquetTableStore =
    new ParquetTableStore(spark,
      StateCache.ensure(StateCache.dedupRoot, name, corpusDir, "embeddings.parquet")(build))

  /** Persisted semantic-dedup state for a corpus slice: four tables in
    * one journaled group commit (ParquetTableStore) —
    *
    *   - `cents`    (cell, cent)               — the FROZEN quantizer
    *   - `assigned` (vec_id, cell, emb, n2)    — the slice's cell rows
    *   - `pairs`    (id_a, id_b)               — all within-cell qualifying pairs
    *   - `labels`   (doc_id, cluster_id)       — CC labels of clustered members
    *
    * `pairs` is the similarity GRAPH the labels derive from — persisting
    * it is what makes retraction (`semanticRetract`) an anti-join plus a
    * pair-graph-sized re-closure instead of a corpus-sized re-score
    * (the DedupIndexStore `sets` doctrine: keep the one table everything
    * re-derives from).
    *
    * Built on first use per (corpusDir, mtime, minCos, tag), read-only
    * thereafter — a serve never retrains centroids and never re-assigns
    * the corpus (the ann4/ann5 stored-index doctrine; the r7 serve paths
    * recomputed both per call, which is exactly the cost this table
    * removes).
    *
    * CONTRACT: `existing` must be exactly the corpus slice the `tag`
    * names for this corpusDir (e.g. `"full"` → all of embeddings.parquet,
    * `"even"` → its even-vec_id half) — the state key is (dir, mtime,
    * minCos, tag), NOT a content hash, so passing a different subset
    * under an existing tag would silently serve that tag's stored labels.
    * Derive a fresh tag for any new slice.
    */
  def ensureSemanticState(spark: org.apache.spark.sql.SparkSession,
      corpusDir: String, existing: DataFrame, minCos: Double,
      tag: String): graft.etl.ParquetTableStore =
    // "semst2": layout version (cents+assigned+pairs+labels); bumping the
    // prefix orphans (never corrupts) the older pairs-less caches
    cached(spark, s"semst2_${tag}_${(minCos * 1000).toInt}", corpusDir) { p =>
      buildSemanticState(new ParquetTableStore(spark, p), existing, minCos)
    }

  /** The state build body — shared by `ensureSemanticState` and the
    * build-then-retract cache (`ensureRetractedSemantic`). Trains the
    * quantizer on its own slice; the distributed protocol instead trains
    * ONCE centrally and hands each shard the frozen quantizer
    * (`buildSemanticStateFrozen`).
    */
  private[graft] def buildSemanticState(store: graft.etl.ParquetTableStore,
      existing: DataFrame, minCos: Double): Unit =
    buildSemanticStateFrozen(store, existing, labelCentroids(existing), minCos)

  /** Shard-build face of the semantic state — the quantizer arrives
    * FROZEN (trained once, centrally: `labelCentroids` is an order-exact
    * decimal sum, so the central train costs one narrow aggregation pass
    * regardless of corpus layout — the IVF/PQ central-quantizer
    * doctrine). N shards build independently with no cross-shard
    * shuffle: assignment is a per-row argmax over the shared centroid
    * literals, pairs are within-shard within-cell. What a shard CANNOT
    * see — qualifying pairs whose endpoints live in different shards —
    * is exactly what `semanticMerge` scores, so shard builds + fold ==
    * the one-shot build (spec-pinned table by table).
    */
  private[graft] def buildSemanticStateFrozen(store: graft.etl.ParquetTableStore,
      slice: DataFrame, cents: Array[(Int, Array[Double])],
      minCos: Double): Unit = {
    val spark2 = slice.sparkSession
    import spark2.implicits._
    store.stage("cents",
      cents.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "cent"))
    val a = store.stage("assigned", assignCells(slice, cents))
    val pairs = store.stage("pairs",
      cellPairs(a, a, minCos, lowerOnly = true))
    store.stage("labels", TextDedup.connectedComponents(pairs))
    store.commitStaged(Seq("cents", "assigned", "pairs", "labels"))
  }

  /** Fold `src`'s semantic state into `dst` — the merge verb that
    * completes the family's deployment matrix (build / serve / append /
    * retract landed earlier; every lexical and vector index already has
    * all five). Doctrine matches `DedupIndexStore.merge`:
    *
    *   - the frozen quantizers must be IDENTICAL, bit for bit — shards
    *     assigned into different cells have incomparable pair semantics
    *     (the VectorIndexStore incomparable-quantizer rule), rejected
    *     loudly. `minCos` is the build threshold (the state keys it in
    *     its path, not a table — same caller contract as the CLI's
    *     `--incremental`);
    *   - `assigned` is a pure union (cell assignment is a function of
    *     the frozen quantizer — shard-layout-free);
    *   - `pairs` adds the one thing neither shard could see: CROSS-shard
    *     within-cell qualifying pairs, scored here with the operator's
    *     own arithmetic (`cellPairs`), still cell-bounded — never
    *     corpus-quadratic. Shard pairs ∪ cross pairs = ALL within-cell
    *     pairs over the union, the invariant every serve and the retract
    *     verb rely on;
    *   - `labels` merges through `TextDedup.ccIncremental` on the
    *     delta (src pairs + cross) — a merge only ever JOINS clusters,
    *     so the merge-only incremental closure is exact and the work is
    *     delta-graph-sized, not accumulated-graph-sized (contrast
    *     `semanticRetract`, which must re-close fully because forgetting
    *     can split).
    *
    * One journaled group commit; `src` is read-only throughout. Merged
    * state == `buildSemanticStateFrozen` over the union (spec-pinned).
    */
  def semanticMerge(dst: graft.etl.ParquetTableStore,
      src: graft.etl.ParquetTableStore, minCos: Double): Unit = {
    val cd = readCents(dst)
    val cs = readCents(src)
    require(cd.length == cs.length && cd.zip(cs).forall {
        case ((ca, va), (cb, vb)) => ca == cb && java.util.Arrays.equals(va, vb)
      },
      s"semanticMerge needs an identical frozen quantizer: dst has " +
        s"${cd.length} cells, src has ${cs.length} — shards must assign " +
        "into the SAME cells (train once centrally, build shards frozen)")
    val dstA = dst.read("assigned")
    val srcA = src.read("assigned")
    dst.stage("assigned", dstA.unionByName(srcA).dropDuplicates("vec_id"))
    val cross = cellPairs(dstA, srcA, minCos, lowerOnly = false)
    val delta = src.read("pairs").unionByName(cross)
      .dropDuplicates("id_a", "id_b")
    dst.stage("pairs",
      dst.read("pairs").unionByName(delta).dropDuplicates("id_a", "id_b")
        .select(col("id_a"), col("id_b")))
    dst.stage("labels",
      TextDedup.ccIncremental(dst.read("labels")
          .select(col("doc_id"), col("cluster_id")), delta)
        .select(col("doc_id"), col("cluster_id")))
    dst.commitStaged(Seq("assigned", "pairs", "labels"))
  }

  /** Absorb an embedding batch into a persisted semantic state — the
    * append verb at the STATE level (the CLI's `--incremental` carries
    * its own corpus/kept tables; streams and engine callers fold into
    * the semst2 layout directly). The batch assigns into the FROZEN
    * cells, only new×new + new×stored pairs are scored (the stored
    * corpus never self-joins again), and labels merge through the
    * delta-sized incremental closure — so N appends == the one-shot
    * build under these cells (the sem2 invariant: accumulated pairs
    * stay exactly "all within-cell pairs under the frozen quantizer").
    *
    * `emit` receives the BATCH's cluster rows (vec_id, cell,
    * cluster_id, kept — arrival-time labels, from the staged tables)
    * and runs BEFORE the group commit: a crash between emit and commit
    * replays to identical output because assignment under frozen cells
    * is deterministic (the splitServe callback protocol).
    */
  def semanticAppend(store: graft.etl.ParquetTableStore, incoming: DataFrame,
      minCos: Double)(emit: DataFrame => Unit = _ => ()): Unit = {
    val cents = readCents(store)
    val oldA = store.read("assigned")
    val newA = assignCells(incoming, cents)
    val delta = cellPairs(newA, newA, minCos, lowerOnly = true)
      .unionByName(cellPairs(newA, oldA, minCos, lowerOnly = false))
      .dropDuplicates("id_a", "id_b")
    store.stage("assigned", oldA.unionByName(newA))
    store.stage("pairs",
      store.read("pairs").unionByName(delta).dropDuplicates("id_a", "id_b")
        .select(col("id_a"), col("id_b")))
    val labels = store.stage("labels",
      TextDedup.ccIncremental(store.read("labels"), delta)
        .select(col("doc_id"), col("cluster_id")))
    emit(clustersFrom(newA, labels))
    store.commitStaged(Seq("assigned", "pairs", "labels"))
  }

  /** Merged semantic state for a corpus dir: the quantizer trains ONCE
    * on the union (one narrow decimal-sum pass — layout-free), each
    * slice builds its state independently under the frozen cells, and
    * the folds run pairwise into the first shard's store — the
    * distributed-build protocol exercised end-to-end, cached per
    * (dir, mtime, minCos, shards, tag).
    */
  def ensureMergedSemantic(spark: org.apache.spark.sql.SparkSession,
      corpusDir: String, slices: Seq[DataFrame], minCos: Double,
      tag: String): graft.etl.ParquetTableStore = {
    def store(p: String) = new ParquetTableStore(spark, p)
    cached(spark, s"semmrg1_${slices.size}_${tag}_${(minCos * 1000).toInt}", corpusDir) { p =>
      val cents = labelCentroids(slices.reduce(_ unionByName _))
      StateCache.fold(p, slices)(
          (sp, sl) => buildSemanticStateFrozen(store(sp), sl, cents, minCos))(
        (d, s) => semanticMerge(store(d), store(s), minCos))
    }
  }

  /** Forget vectors — the takedown verb for the ONE persisted state
    * family that lacked it (every lexical index gained retract in round
    * 10; a deployment dropping a source would re-derive text clusters
    * correctly yet keep serving stale SEMANTIC labels). Doctrine matches
    * `DedupIndexStore.retract`: anti-join the source tables, re-derive
    * everything downstream, one journaled group commit —
    *
    *   - `assigned` loses the retracted rows (anti-join);
    *   - `pairs` loses every pair touching a retracted endpoint;
    *   - `labels` re-closes over the REMAINING pair graph with a full
    *     `connectedComponents` — NOT `ccIncremental`, because retraction
    *     can SPLIT a cluster (a retracted bridge doc) and the
    *     incremental closure only merges. The re-closure is pair-graph-
    *     sized (the dedup graph, not the corpus), so the forget never
    *     re-scores a single cosine;
    *   - `cents` is untouched: the frozen quantizer is an AGGREGATE
    *     statistic of the training corpus (the PQ/IVF frozen-artifact
    *     doctrine) — retraction under frozen cells keeps every remaining
    *     assignment and pair valid, which is exactly why no cosine work
    *     recurs. A strict-forget policy (centroids must also unlearn)
    *     is a retrain, not a retract.
    *
    * Retracting ids the state never held is a no-op by the same
    * derivation (spec-pinned). The retracted state equals
    * `buildSemanticState` over the remaining corpus with these frozen
    * cents TABLE BY TABLE (spec-pinned) — no tombstones.
    */
  def semanticRetract(store: graft.etl.ParquetTableStore, ids: DataFrame): Unit = {
    val vids = ids.select(col("vec_id"))
    store.stage("assigned",
      store.read("assigned").join(vids, Seq("vec_id"), "left_anti"))
    val pairs = store.stage("pairs",
      store.read("pairs")
        .join(vids.select(col("vec_id").as("id_a")), Seq("id_a"), "left_anti")
        .join(vids.select(col("vec_id").as("id_b")), Seq("id_b"), "left_anti")
        // the using-column joins moved id_b to the front — restore the
        // (id_a, id_b) schema the build wrote
        .select(col("id_a"), col("id_b")))
    store.stage("labels", TextDedup.connectedComponents(pairs))
    store.commitStaged(Seq("assigned", "pairs", "labels"))
  }

  /** Build-then-retract for a corpus dir, cached (the
    * DedupIndexStore.ensureRetracted protocol): the sem3 serving state,
    * so the takedown path itself sits under the oracle gate,
    * not just its spec.
    */
  def ensureRetractedSemantic(spark: org.apache.spark.sql.SparkSession,
      corpusDir: String, existing: DataFrame, minCos: Double, tag: String,
      retractIds: DataFrame): graft.etl.ParquetTableStore =
    cached(spark, s"semrt1_${tag}_${(minCos * 1000).toInt}", corpusDir) { p =>
      val store = new ParquetTableStore(spark, p)
      buildSemanticState(store, existing, minCos)
      semanticRetract(store, retractIds)
    }

  /** The stored frozen quantizer, collected (k × dim doubles — KB). */
  def readCents(store: graft.etl.ParquetTableStore): Array[(Int, Array[Double])] =
    store.read("cents").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)

  /** Cluster labels of an existing corpus slice from the persisted state
    * (doc_id, cluster_id — clustered members only). See
    * `ensureSemanticState` for the tag contract.
    */
  def ensureSemanticClusters(spark: org.apache.spark.sql.SparkSession,
      corpusDir: String, existing: DataFrame, minCos: Double, tag: String): DataFrame =
    ensureSemanticState(spark, corpusDir, existing, minCos, tag).read("labels")

  /** `semanticDedup` SERVED from the persisted state: cells come from the
    * stored `assigned` table and clusters from the stored `labels` — a
    * serve is two reads and one join; no centroid training, no argmax
    * scan. Output equals `semanticDedup(embeddings, minCos)` because the
    * state was built from this same corpus slice (PipelineOpsSpec pins
    * stored == inline). CONTRACT: `embeddings` must be exactly the slice
    * `tag` names (see `ensureSemanticState`).
    */
  def semanticDedupServed(spark: org.apache.spark.sql.SparkSession,
      corpusDir: String, embeddings: DataFrame, minCos: Double,
      tag: String = "full"): DataFrame =
    servedClusters(ensureSemanticState(spark, corpusDir, embeddings, minCos, tag))

  /** Cluster rows straight from a persisted semantic state (built OR
    * retracted) — two reads and one join, no centroid work.
    */
  def servedClusters(store: graft.etl.ParquetTableStore): DataFrame =
    clustersFrom(store.read("assigned"), store.read("labels"))

  /** Benchmark vectors collected to the driver — bounded by construction
    * (an eval benchmark is hundreds-to-thousands of vectors, KB–MB; the
    * same shape as the k-means centroid collects). Sorted by vec_id for
    * a deterministic literal.
    */
  def collectBenchmark(bench: DataFrame): Array[Array[Double]] =
    bench.select(col("vec_id"), asDouble(col("embedding")))
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)

  /** Embedding-space decontamination (the semantic sibling of ct1's
    * n-gram overlap): per corpus vector, the max cosine against a
    * benchmark set carried as ONE array-of-(vector, |v|²) literal — so
    * the scan is a single narrow pass with zero join and zero shuffle,
    * and the plan holds one literal VALUE, not one expression per
    * benchmark vector (the plan-size discipline from NOTES.md). Corpus
    * norms are computed once per row; flagged rows are those a trainer
    * must drop before pretraining to keep the benchmark honest.
    */
  def semanticContamination(corpus: DataFrame, bench: Array[Array[Double]],
      minCos: Double): DataFrame = {
    // an empty benchmark would make array_max(empty) NULL → every flag
    // silently null; a zero-norm benchmark vector would make every cosine
    // NaN → every row reads contaminated. Both are caller bugs — refuse.
    require(bench.nonEmpty,
      "semanticContamination: empty benchmark set — nothing to screen against")
    require(bench.forall(b => b.exists(_ != 0.0)),
      "semanticContamination: benchmark contains a zero-norm vector")
    val benchLit = typedLit(bench.map(b => (b.toSeq, b.map(x => x * x).sum)).toSeq)
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("n2", norm2(col("v")))
      // a zero-norm CORPUS vector has no direction: its cosines are 0/0
      // NaN, which Spark's array_max would rank above every real cosine
      // — score it NULL / clean explicitly instead
      .withColumn("mx", when(col("n2") > lit(0.0), array_max(transform(benchLit,
        b => dot(col("v"), b.getField("_1")) / sqrt(col("n2") * b.getField("_2")))))
        .otherwise(lit(null).cast(DoubleType)))
      .select(col("vec_id"),
        col("mx").cast(DecimalType(18, 6)).cast(DoubleType).as("max_cos"),
        coalesce(col("mx") >= minCos, lit(false)).cast(LongType).as("contaminated"))
  }

  /** SSL-prototypes curation (Sorscher et al. 2022): rank each vector by
    * cosine to its OWN label centroid (exact decimal-mean centroids —
    * emb2's machinery) and keep the `m` most prototypical per label.
    * Centroids travel as one map literal (labels × dim doubles — KB), so
    * scoring is a narrow pass; the per-label top-m plans as a
    * WindowGroupLimit (partial limit before the shuffle, like ann1).
    * Ranking is on the DECIMAL(18,6)-rounded cosine with a vec_id
    * tiebreak — deterministic across engines and partitionings.
    */
  def labelPrototypes(embeddings: DataFrame, m: Int): DataFrame = {
    val cents = labelCentroids(embeddings)
    val centMap = typedLit(cents.map { case (l, c) =>
      l -> (c.toSeq, c.map(x => x * x).sum)
    }.toMap)
    val e = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("n2", norm2(col("v")))
      .withColumn("c", element_at(centMap, col("label")))
      .withColumn("cos", (dot(col("v"), col("c").getField("_1")) /
          sqrt(col("n2") * col("c").getField("_2")))
        .cast(DecimalType(18, 6)).cast(DoubleType))
    val w = Window.partitionBy(col("label")).orderBy(col("cos").desc, col("vec_id"))
    e.withColumn("rk", row_number().over(w)).filter(col("rk") <= m)
      .select(col("label"), col("vec_id"), col("cos"),
        col("rk").cast(LongType).as("rk"))
  }
}
