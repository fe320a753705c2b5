package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextSketches

/** Document deduplication operators for large-scale training-data curation:
  * exact (content-hash), exact n-gram Jaccard, MinHash+LSH near-dup, and
  * SimHash. All are pure DataFrame transformations — the shuffle keys are
  * content-derived (hash / shingle / band bucket), so every stage
  * partitions correctly at any scale.
  *
  * Scale notes (100 TB):
  *  - exact dedup is one hash-groupBy — embarrassingly parallel.
  *  - exact pairwise Jaccard self-joins on the shingle; it is the
  *    CORRECTNESS baseline. The scale path is MinHash+LSH: candidate
  *    generation touches only (doc, band-bucket) pairs, never n².
  *  - SimHash pair search joins on a 16-bit prefix band, not all-pairs.
  */
object TextDedup {

  /** Normalized text: lowercase, collapsed whitespace, trimmed. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Word n-gram shingle set (distinct), space-joined. One narrow eval per
    * doc (graft.functions.ShingleArray) — the transform/slice lambda
    * formulation interpreted per ELEMENT and was ~3x slower.
    */
  def shingles(text: Column, n: Int): Column = TextSketches.shingleArray(text, n)

  /** Exact dedup by content hash: one row per distinct normalized content,
    * with the group size and the smallest doc id as the canonical survivor.
    */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(normalizeText(col(textCol))).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))

  /** (doc_id, shingle) exploded — the join fabric for exact Jaccard. */
  def shingleRows(docs: DataFrame, n: Int): DataFrame =
    Par.fan(docs).select(col("doc_id"), explode(shingles(col("text"), n)).as("s"))

  /** `shingleRows` + the per-doc set size attached at EXPLODE time
    * (doc_id, s, sz). sz == size of the distinct-shingle array == what a
    * count() window over the exploded rows would compute — carrying it
    * from the array removes a corpus-sized Sort+Window pass from every
    * prefix projection (the unordered count window planned as its own
    * WindowExec + sort next to the row_number one). The two-step select
    * keeps the shingle array evaluated ONCE (CollapseProject refuses to
    * inline a non-cheap alias referenced by both size() and explode()).
    */
  def shingleRowsSized(docs: DataFrame, n: Int): DataFrame =
    Par.fan(docs).select(col("doc_id"), shingles(col("text"), n).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("s"), size(col("sh")).cast(LongType).as("sz"))

  /** Exact n-gram Jaccard near-dup pairs with similarity ≥ minJaccard.
    * Output jac_micro = floor(1e6 · |A∩B| / |A∪B|) as BIGINT — integer
    * micro-units so the oracle compare never hits a float-tie: both engines
    * run the identical IEEE double ops (c·1e6 then ÷ then floor).
    */
  def jaccardPairs(docs: DataFrame, n: Int, minJaccard: Double): DataFrame = {
    val sh = shingleRows(docs, n)
    // |shingles| from the array — narrow, no explode+shuffle+agg; inner
    // joins below only see docs with ≥1 shingle, so output is equal
    val cnt = Par.fan(docs).select(col("doc_id"),
      size(shingles(col("text"), n)).cast(LongType).as("n_sh"))
    val a = sh.as("a"); val b = sh.as("b")
    val common = a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    val ca = cnt.as("ca"); val cb = cnt.as("cb")
    common
      .join(ca, col("id_a") === col("ca.doc_id"))
      .join(cb, col("id_b") === col("cb.doc_id"))
      .withColumn("u", col("ca.n_sh") + col("cb.n_sh") - col("c"))
      .filter(col("c").cast(DoubleType) / col("u") >= minJaccard)
      .select(col("id_a"), col("id_b"),
        floor(col("c").cast(DoubleType) * 1000000d / col("u")).as("jac_micro"))
  }

  // ───── connected components (pairs → dedup clusters) ─────

  /** Near-dup PAIRS are not a dedup decision: similarity is transitive in
    * practice (A≈B, B≈C ⇒ keep one of {A,B,C}), so the curation step needs
    * the connected components of the pair graph, each labeled by its
    * canonical (minimum) doc id. Min-label propagation: every node starts
    * as its own label and repeatedly takes the min of its neighborhood;
    * fixpoint in O(component diameter) rounds — near-dup clusters are
    * shallow (chains of a few docs), so a handful of iterations.
    *
    * Scale: each round is one join + one agg, both shuffling on the node
    * id — never materializes paths or the transitive closure. Convergence
    * rides the round's own job via observe().
    *
    * Deep-graph fallback: min-label needs O(diameter) rounds, so a graph
    * that hasn't converged after `starAfter` rounds (adversarial chains —
    * boilerplate docs each near-dup to the next) switches strategy: the
    * current labels form a valid contraction (every label is the min of a
    * connected subset containing it — the ccIncremental argument), so the
    * remaining work runs `connectedComponentsStar` (O(log² n) rounds on
    * ANY graph) over the label-contracted edge set and composes the
    * result back. Exact on every graph, and the common shallow case never
    * pays the star machinery (CcSpec pins parity on chains + random
    * graphs; d7/d10/d13 stay hash-green because they converge early).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      starAfter: Int = 8): DataFrame = {
    // localCheckpoint each round: labels_i feeds BOTH the neighborhood min
    // and the merge, so without lineage truncation the plan doubles per
    // iteration (exponential — OOMs the driver around round 10). Eager
    // checkpointing materializes each round's labels and restarts the
    // lineage, the standard shape for iterative graph algorithms.
    // pre-partition by v: every round's neighborhood join keys edges on
    // v, so materializing them v-partitioned once removes a full edge
    // shuffle from EVERY round (localCheckpoint preserves the physical
    // partitioning; only the round's label table still moves)
    val edges = pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
      .repartition(col("v"))
      .localCheckpoint(true)
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < math.min(starAfter, maxIter)) {
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("label").as("nl")), Seq("v"))
        .groupBy(col("u").as("id"))
        .agg(min(col("nl")).as("nbr_min"))
      // convergence rides the SAME job that materializes the round via
      // observe(): the old formulation re-joined updated vs labels and
      // ran a second count job per round — pure fixed cost that
      // dominated shallow-graph CC (measured ~40% of d7 at sf0.1)
      val obs = org.apache.spark.sql.Observation(s"cc_round_$i")
      val updated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"),
          (col("nbr_min") < col("label")).as("chg"))
        .observe(obs, count(when(col("chg"), lit(1))).as("n_changed"))
        .select(col("id"), col("label"))
        .localCheckpoint(true)
      converged = obs.get("n_changed").asInstanceOf[Long] == 0L
      labels = updated
      i += 1
    }
    if (!converged) {
      // diameter exceeded the round budget: contract by the current
      // labels (connectivity-preserving; supernode ids are candidate
      // minima and the true component min m always survives — label(m)
      // can never drop below m) and finish with the star variant
      val lu = labels.select(col("id").as("u"), col("label").as("lu"))
      val lv = labels.select(col("id").as("v"), col("label").as("lv"))
      val contracted = edges.join(lu, Seq("u")).join(lv, Seq("v"))
        .select(col("lu").as("id_a"), col("lv").as("id_b"))
        .filter(col("id_a") =!= col("id_b")).distinct()
      val star = connectedComponentsStar(contracted)
      labels.join(star.withColumnRenamed("doc_id", "label"), Seq("label"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("cluster_id"), col("label")).as("cluster_id"))
    } else labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Incremental connected components for a GROWING corpus — the cluster
    * stage of incremental dedup (pairs stage: `prefixFilterPairsIncremental`).
    * Instead of re-running CC over every pair ever found, contract each
    * existing cluster to its canonical label and run CC only on the
    * DELTA graph: each new edge's endpoints map through their existing
    * label (unknown docs map to themselves), so the reduced graph has one
    * node per TOUCHED cluster/new doc and one edge per delta pair —
    * delta-sized, not corpus-sized. Convergence takes rounds proportional
    * to the delta graph's diameter, not the corpus's.
    *
    * Correctness: prevLabels is a contraction of the old pair graph onto
    * min-id supernodes, which preserves connectivity; and because every
    * supernode id IS the min doc id of its old component, the min label
    * of a merged component in the reduced graph equals the global min
    * over the union — so composed labels match a from-scratch CC over
    * (old ∪ new) pairs exactly (PipelineOpsSpec proves it; d13 shares
    * d7's recursive-CTE oracle).
    *
    * Scale shape: two batch-sized label-lookup joins, CC on the reduced
    * graph, one broadcast-able remap join back onto prevLabels. The full
    * label table is touched only by the final remap — a narrow join on
    * cluster_id, no iteration over it.
    */
  def ccIncremental(prevLabels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val la = prevLabels.select(col("doc_id").as("id_a"), col("cluster_id").as("lab_a"))
    val lb = prevLabels.select(col("doc_id").as("id_b"), col("cluster_id").as("lab_b"))
    val reduced = newPairs.select(col("id_a"), col("id_b"))
      .join(la, Seq("id_a"), "left")
      .join(lb, Seq("id_b"), "left")
      .select(coalesce(col("lab_a"), col("id_a")).as("u0"),
        coalesce(col("lab_b"), col("id_b")).as("v0"))
      .filter(col("u0") =!= col("v0")) // edges internal to one old cluster
      .select(least(col("u0"), col("v0")).as("id_a"),
        greatest(col("u0"), col("v0")).as("id_b"))
      .distinct()
    // merged: (supernode, new label) for every cluster/doc the delta touches
    val merged = connectedComponents(reduced, maxIter)
      .select(col("doc_id").as("node"), col("cluster_id").as("new_label"))
    // old docs: remap their cluster label if it merged, else keep it
    val rePrev = prevLabels
      .join(merged.withColumnRenamed("node", "cluster_id"), Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
    // supernodes that are NOT an old canonical doc are new (or previously
    // singleton) docs — they enter the label table directly
    val newNodes = merged
      .join(prevLabels.select(col("doc_id")),
        merged("node") === prevLabels("doc_id"), "left_anti")
      .select(col("node").as("doc_id"), col("new_label").as("cluster_id"))
    rePrev.unionByName(newNodes)
  }

  /** Large-star/small-star connected components (the alternating
    * MapReduce algorithm of Kiveris et al.): converges in O(log² n)
    * rounds on ANY graph — including adversarially deep chains where
    * min-label propagation needs O(diameter) rounds. Same output contract
    * as `connectedComponents` (doc_id, cluster_id = component min).
    *
    *  - large-star: every node points its LARGER neighbors at the min of
    *    its closed neighborhood — halves the depth of tall subtrees.
    *  - small-star: every node points its smaller-or-equal neighbors (and
    *    itself) at that min — flattens local stars.
    *
    * Each phase is one groupBy + one join shuffling on the node id (the
    * same per-round cost shape as min-label propagation). Convergence is
    * detected by an order-insensitive (count, xor-of-hashes) checksum of
    * the edge set — one tiny agg per round, no set-compare join.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      nbrs.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m")) // m < u always
      dir.join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // the (count, xor-of-hashes) convergence checksum rides the SAME job
    // that materializes each round's edge set via observe() — the old
    // formulation ran a second agg job per round, pure fixed cost at any
    // scale (the min-label loop's n_changed observation, applied here)
    def checkpointWithChecksum(e: DataFrame, tag: String): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation(tag)
      val out = e.observe(obs,
          count(lit(1)).as("n"),
          coalesce(bit_xor(
            xxhash64(least(col("u"), col("v")), greatest(col("u"), col("v")))), lit(0L)).as("x"))
        .localCheckpoint(true)
      (out, (obs.get("n").asInstanceOf[Long], obs.get("x").asInstanceOf[Long]))
    }
    var (edges, prev) = checkpointWithChecksum(pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v")).distinct(), "star_init")
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val (next, cur) = checkpointWithChecksum(smallStar(largeStar(edges)), s"star_$i")
      edges = next
      converged = cur == prev
      prev = cur
      i += 1
    }
    // fixpoint edge set is a union of stars centered at each component's
    // min: leaves point at the center; centers label themselves
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
      .distinct()
  }

  /** Duplicated-SPAN detection — the exact-substring complement to
    * whole-document dedup: a doc can be globally unique yet consist
    * mostly of boilerplate spans repeated across the corpus (headers,
    * licenses, templated text), which inflates n-gram counts and wastes
    * training tokens. Every POSITION-level n-token window (stride 1,
    * multiplicity kept — unlike `shingles`' distinct sets) is counted
    * corpus-wide; a window occurring at ≥2 positions anywhere is
    * duplicated, and each doc reports its duplicated-window fraction in
    * integer permille.
    *
    * Scale shape: one narrow window explode (positions ≈ corpus tokens),
    * one gram-keyed count whose map-side partials absorb the repeated
    * mass, one gram-keyed join back, one doc-keyed agg — every wide
    * stage shuffles on content-derived keys, nothing is ever all-pairs.
    * Docs shorter than n tokens have no windows and don't appear.
    */
  def duplicatedSpans(docs: DataFrame, n: Int): DataFrame = {
    val postings = spanPostings(docs, n)
    spanStats(postings, postings.groupBy(col("g")).agg(sum(col("k")).as("cnt")))
  }

  /** Per-(doc, window) multiplicities — the posting-list state table an
    * incremental deployment stores: (doc_id, g, k). Sum of k per doc =
    * its window count; sum of k per g = the corpus-wide span count.
    */
  def spanPostings(docs: DataFrame, n: Int): DataFrame = {
    // native one-eval-per-doc window expression — the transform/slice/
    // array_join lambda formulation evaluated interpreted per POSITION
    Par.fan(docs)
      .select(col("doc_id"),
        explode(TextSketches.spanArray(normalizeText(col("text")), n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("k"))
  }

  /** Doc-level span stats from a postings table + corpus-wide counts. */
  private def spanStats(postings: DataFrame, freq: DataFrame): DataFrame =
    postings.join(freq, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_windows"),
        sum(when(col("cnt") >= 2, col("k")).otherwise(lit(0L))).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        floor(col("n_dup_windows").cast(DoubleType) * 1000d / col("n_windows"))
          .cast(LongType).as("dup_permille"))

  /** INCREMENTAL duplicated spans — the quality signal where a new batch
    * retroactively changes OLD docs: a span unique in the existing
    * corpus (cnt 1) becomes duplicated the moment an arriving doc
    * repeats it, so old stats can't just be unioned with new ones.
    * State a deployment keeps: `prevPostings` (doc, g, k), `prevFreq`
    * (g, cnt — abelian sums), `prevStats` (the served doc-level table).
    *
    * Per batch, the only corpus-sized table touched is prevPostings, and
    * only by a semi-join against the CROSSING grams (prev cnt == 1 and
    * the batch re-mentions them — batch-bounded, typically tiny): grams
    * already duplicated (cnt ≥ 2) were counted in prevStats, grams still
    * unique stay unique. Everything else is batch-sized: the batch's
    * postings, its freq delta, and its own stats against the merged
    * counts. Output == `duplicatedSpans` over the union corpus
    * (PipelineOpsSpec proves two-batch == one-shot).
    */
  def duplicatedSpansIncremental(prevPostings: DataFrame, prevFreq: DataFrame,
      prevStats: DataFrame, incoming: DataFrame, n: Int): DataFrame = {
    val batchPostings = spanPostings(incoming, n)
    val deltaFreq = batchPostings.groupBy(col("g")).agg(sum(col("k")).as("dcnt"))
    // grams crossing the duplication threshold: exactly-once in the old
    // corpus AND re-mentioned by the batch
    val crossed = prevFreq.filter(col("cnt") === 1)
      .join(deltaFreq, Seq("g"), "left_semi")
    // each crossing gram upgrades its single old posting's k windows
    val oldDelta = prevPostings.join(crossed, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("k")).as("add_dup"))
    val updatedOld = prevStats.join(oldDelta, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        (col("n_dup_windows") + coalesce(col("add_dup"), lit(0L))).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        floor(col("n_dup_windows").cast(DoubleType) * 1000d / col("n_windows"))
          .cast(LongType).as("dup_permille"))
    // the batch's own docs score against the merged counts — needed only
    // for grams the batch mentions, so one batch-sized left join, never
    // a re-aggregation over the corpus gram table
    val batchFreq = deltaFreq.join(prevFreq, Seq("g"), "left")
      .select(col("g"), (col("dcnt") + coalesce(col("cnt"), lit(0L))).as("cnt"))
    updatedOld.unionByName(spanStats(batchPostings, batchFreq))
  }

  /** Exact-substring REMOVAL — the action on d14's signal (the
    * "dedup the substrings, not the documents" curation step): rewrite
    * every doc with the tokens of corpus-duplicated n-token windows
    * stripped, keeping the survivors in their original order. A token
    * dies if ANY duplicated window covers its position.
    *
    * Scale shape: window rows shuffle on the gram (the d14 fabric);
    * covered positions are n × duplicated-window rows — duplication-
    * sized, not corpus-sized — deduped per (doc, pos); the rebuild is a
    * per-doc collect_list bounded by doc length (docs are KB). Output
    * carries md5(clean_text) so the result row stays narrow while the
    * full rebuilt text is still pinned byte-exactly.
    */
  def scrubDuplicatedSpans(docs: DataFrame, n: Int): DataFrame = {
    val w = split(normalizeText(col("text")), " ")
    val toks = Par.fan(docs).select(col("doc_id"), w.as("w"))
    val wins = Par.fan(docs)
      .select(col("doc_id"),
        posexplode(TextSketches.spanArray(normalizeText(col("text")), n)))
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("col").as("g"))
    val dupG = wins.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("g"))
    val covered = wins.join(dupG, Seq("g"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(n - 1))).as("p"))
      .distinct()
    rebuildExcluding(toks, covered)
  }

  /** Rebuild docs with `covered` (doc_id, p) token positions stripped —
    * the shared tail of every scrub flavor (d16's window scrub, the
    * suffix-index serve scrub). Covered positions fold to one
    * doc-length-bounded set per doc (duplication-sized input), and the
    * rebuild is one native eval per doc (ExcludePositionsJoin) against
    * the token array — the corpus's TOKENS are never shuffled (guide
    * §2.3: shuffle the positions that decide, not the token payload; the
    * old shape anti-joined and then re-aggregated every token row).
    * Covered positions are always within [1, doc length] (window starts
    * and span extents are position-bounded), so n_kept can be read off
    * the set sizes. Fully-covered docs survive as empty text; null-text
    * docs keep the old contract (n_tokens null, n_kept 0, md5('')).
    */
  private[operators] def rebuildExcluding(toks: DataFrame,
      covered: DataFrame): DataFrame = {
    val covSets = covered.groupBy(col("doc_id"))
      .agg(collect_list(col("p").cast(LongType)).as("cov"))
    toks.join(covSets, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("w")).cast(LongType).as("n_tokens"),
        when(col("w").isNull, 0L)
          .otherwise(size(col("w")).cast(LongType) -
            // NOT coalesce(size(cov), 0): with ANSI off size(NULL) is -1
            // (legacy), which is non-null and would add a phantom token
            when(col("cov").isNull, 0L)
              .otherwise(size(col("cov")).cast(LongType))).as("n_kept"),
        md5(coalesce(TextSketches.excludePositionsJoin(col("w"), col("cov")),
          lit(""))).as("clean_hash"))
  }

  // ───── MinHash + LSH ─────

  val NumHashes = 64
  val Bands = 16 // × 4 rows per band

  /** MinHash signature per doc: array of NumHashes longs. A NARROW
    * projection (graft.functions.MinHashSig) — no explode, no groupBy:
    * the signature pass over a 100 TB corpus needs zero shuffle.
    */
  def minhashSignatures(docs: DataFrame, n: Int): DataFrame =
    Par.fan(docs).select(col("doc_id"), TextSketches.minhashSig(col("text"), n).as("sig"))

  /** Banded signature rows: (doc_id, sig, band_id, band_hash) — the LSH
    * bucket fabric. Docs sharing any (band_id, band_hash) are candidates.
    */
  def lshBands(sigs: DataFrame): DataFrame = {
    val r = NumHashes / Bands
    sigs.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(Bands - 1)),
          bnd => xxhash64(concat_ws(",", slice(col("sig"), bnd * r + 1, lit(r))), bnd))))
      .select(col("doc_id"), col("sig"), col("pos").as("band_id"), col("col").as("band_hash"))
  }

  /** Raw LSH candidate pairs (may repeat across bands — callers filter
    * cheaply FIRST, then dedup the small survivor set).
    */
  def lshCandidates(sigs: DataFrame): DataFrame = {
    val bands = lshBands(sigs)
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
  }

  /** The 100 TB dedup cascade's pair stage: LSH candidate generation +
    * EXACT Jaccard verification of the candidates. Candidate pairs come
    * from band-bucket collisions (output-sized, never n²); each candidate
    * is then verified narrowly against the two docs' shingle sets
    * (array_intersect — no shingle explode, no self-join). Output schema
    * and jac_micro arithmetic match `jaccardPairs` exactly, so whenever
    * LSH recall is total (P(miss | j≥0.8) = (1−0.8⁴)¹⁶ ≈ 2·10⁻⁴ per pair,
    * and the signature seeds are fixed ⇒ deterministic per corpus) the
    * cascade's output EQUALS the exact baseline's — which is what makes
    * d10 oracle-checkable against d7's SQL.
    */
  def lshVerifiedPairs(docs: DataFrame, n: Int, minJaccard: Double): DataFrame = {
    val cands = lshCandidates(minhashSignatures(docs, n))
      .select(col("id_a"), col("id_b")).dropDuplicates("id_a", "id_b")
    verifyPairs(docs, cands, n, minJaccard)
  }

  /** Exact-Jaccard verification of a candidate pair set: narrow
    * array_intersect per pair against the two docs' shingle sets — no
    * shingle explode, no self-join. Output schema and jac_micro
    * arithmetic identical to `jaccardPairs`.
    */
  private def verifyPairs(docs: DataFrame, cands: DataFrame, n: Int,
      minJaccard: Double): DataFrame =
    verifyPairsSets(
      Par.fan(docs).select(col("doc_id"), shingles(col("text"), n).as("sh")),
      cands, minJaccard)

  /** Verification against PRECOMPUTED shingle sets (doc_id, sh) — the
    * entry `DedupIndexStore` uses so a stored index's `sets` table
    * replaces the per-batch corpus re-shingle entirely.
    */
  private[operators] def verifyPairsSets(sets: DataFrame, cands: DataFrame,
      minJaccard: Double): DataFrame = {
    val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("u", size(col("sh_a")).cast(LongType) + size(col("sh_b")).cast(LongType) - col("c"))
      .filter(col("c").cast(DoubleType) / col("u") >= minJaccard)
      .select(col("id_a"), col("id_b"),
        floor(col("c").cast(DoubleType) * 1000000d / col("u")).as("jac_micro"))
  }

  /** Attach each candidate endpoint's shingle set from a STORED set table
    * and a batch set table joined SEPARATELY (batch row wins if a doc is
    * in both) — a `stored.union(fresh)` would erase the stored table's
    * bucket partitioning and re-shuffle the corpus per serve, which is
    * exactly the cost the DedupIndexStore layout exists to remove.
    */
  private def attachSets(cands: DataFrame, stored: DataFrame, fresh: DataFrame,
      idName: String, shOut: String): DataFrame =
    cands
      .join(stored.select(col("doc_id").as(idName), col("sh").as(shOut + "_s")),
        Seq(idName), "left")
      .join(fresh.select(col("doc_id").as(idName), col("sh").as(shOut + "_f")),
        Seq(idName), "left")
      .withColumn(shOut, coalesce(col(shOut + "_f"), col(shOut + "_s")))
      .drop(shOut + "_s", shOut + "_f")

  /** `verifyPairsSets` with the set table split stored/batch — identical
    * output (inner-join semantics kept by the not-null filter; every real
    * candidate endpoint has a set row in exactly one side).
    */
  private[operators] def verifyPairsSetsSplit(stored: DataFrame, fresh: DataFrame,
      cands: DataFrame, minJaccard: Double): DataFrame =
    attachSets(attachSets(cands, stored, fresh, "id_a", "sh_a"),
        stored, fresh, "id_b", "sh_b")
      .filter(col("sh_a").isNotNull && col("sh_b").isNotNull)
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("u", size(col("sh_a")).cast(LongType) + size(col("sh_b")).cast(LongType) - col("c"))
      .filter(col("c").cast(DoubleType) / col("u") >= minJaccard)
      .select(col("id_a"), col("id_b"),
        floor(col("c").cast(DoubleType) * 1000000d / col("u")).as("jac_micro"))

  /** Asymmetric containment-similarity join: ordered pairs (id_a, id_b)
    * with C(A→B) = |A∩B| / |A| ≥ minContainment — doc A's shingles are
    * mostly inside B. This is the quote/subset detector Jaccard misses:
    * a paragraph embedded verbatim in a much longer page has tiny
    * Jaccard (union is page-sized) but containment ≈ 1. Training-data
    * curation uses it to drop excerpt-of-kept-doc redundancy.
    *
    * Candidate scheme: the SAME prefix bound as the Jaccard join applies
    * one-sided — if |A∩B| ≥ ⌈t·|A|⌉ then among A's first
    * |A| − ⌈t·|A|⌉ + 1 shingles (any fixed order; pigeonhole) at least
    * one is in B — but B must expose its FULL posting list (containment
    * has no size-ratio pruning: a 10-shingle doc can sit inside a
    * 10⁶-shingle one). Rarest-first ordering keeps the prefix×postings
    * join volume tracking true containment density. Exact verification
    * (narrow array_intersect) makes the output relational.
    */
  def containmentPairs(docs: DataFrame, n: Int, minContainment: Double): DataFrame = {
    val sets = shingleSetsPinned(docs, n)
    val sh = rowsFromSets(sets)
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = dfPrefixRows(sh, freq, minContainment)
    val cands = prefix.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyContainmentSets(sets, cands, minContainment)
  }

  /** Exact containment verification of ordered candidate pairs — narrow
    * array_intersect against the two docs' shingle sets, one-sided
    * denominator. Output schema and cont_micro arithmetic shared by the
    * one-shot and incremental containment joins.
    */
  private def verifyContainment(docs: DataFrame, cands: DataFrame, n: Int,
      minContainment: Double): DataFrame =
    verifyContainmentSets(
      Par.fan(docs).select(col("doc_id"), shingles(col("text"), n).as("sh")),
      cands, minContainment)

  /** Containment verification against PRECOMPUTED shingle sets — see
    * `verifyPairsSets`.
    */
  private[operators] def verifyContainmentSets(sets: DataFrame, cands: DataFrame,
      minContainment: Double): DataFrame = {
    val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("na", size(col("sh_a")).cast(LongType))
      .filter(col("c").cast(DoubleType) / col("na").cast(DoubleType) >= minContainment)
      .select(col("id_a"), col("id_b"),
        floor(col("c").cast(DoubleType) * 1000000d / col("na").cast(DoubleType))
          .as("cont_micro"))
  }

  /** `verifyContainmentSets` split stored/batch — see `verifyPairsSetsSplit`. */
  private[operators] def verifyContainmentSetsSplit(stored: DataFrame,
      fresh: DataFrame, cands: DataFrame, minContainment: Double): DataFrame =
    attachSets(attachSets(cands, stored, fresh, "id_a", "sh_a"),
        stored, fresh, "id_b", "sh_b")
      .filter(col("sh_a").isNotNull && col("sh_b").isNotNull)
      .withColumn("c", size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("na", size(col("sh_a")).cast(LongType))
      .filter(col("c").cast(DoubleType) / col("na").cast(DoubleType) >= minContainment)
      .select(col("id_a"), col("id_b"),
        floor(col("c").cast(DoubleType) * 1000000d / col("na").cast(DoubleType))
          .as("cont_micro"))

  /** Incremental containment for a GROWING corpus — the batch delta of
    * `containmentPairs`: every ordered qualifying pair with ≥ 1 new
    * member. Candidates are (new-doc prefixes × union postings) plus
    * (old-doc prefixes × new postings) — the existing corpus's postings
    * never join against themselves again. Recall needs NO cross-batch
    * order agreement at all here: the containment prefix bound is a
    * per-A-doc pigeonhole (ANY |A| − ⌈t·|A|⌉ + 1 of A's shingles must
    * hit a qualifying container), so the union-df rarest-first order is
    * purely a cost choice. Both-old pairs were emitted when the later
    * endpoint was itself new. Exact verification over candidates only.
    */
  def containmentPairsIncremental(existing: DataFrame, incoming: DataFrame,
      n: Int, minContainment: Double): DataFrame = {
    val setsNew = shingleSetsPinned(incoming, n)
    val setsOld = shingleSetsPinned(existing, n)
    val shNew = rowsFromSets(setsNew)
    val shOld = rowsFromSets(setsOld)
    val freq = shNew.unionByName(shOld)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val pNew = dfPrefixRows(shNew, freq, minContainment)
    val pOld = dfPrefixRows(shOld, freq, minContainment)
    val shAll = shNew.unionByName(shOld)
    val newInAny = pNew.as("a").join(shAll.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val oldInNew = pOld.as("a").join(shNew.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val cands = newInAny.unionByName(oldInNew).dropDuplicates("id_a", "id_b")
    verifyContainmentSets(setsNew.unionByName(setsOld), cands, minContainment)
  }

  /** Containment KEEP decision: drop any doc ≥ `minContainment` contained
    * in a LARGER doc (ties break to the smaller doc id, so mutually
    * contained near-identical docs keep exactly one canonical). Unlike
    * the Jaccard cluster family this needs no connected components — the
    * drop rule is a per-doc existential over its containers — so the
    * decision is one aggregation over the containment pairs.
    */
  def containmentKeep(docs: DataFrame, n: Int, minContainment: Double): DataFrame = {
    // |shingles(doc)| read off the array — a narrow projection; the
    // explode + groupBy count it replaces shuffled every shingle row
    // just to recover the array length. (Zero-shingle docs gain an
    // n_sh=0 row the old agg dropped; both joins below are inner on
    // pair endpoints, which always have shingles, so output is equal.)
    val sizes = Par.fan(docs).select(col("doc_id"),
      size(shingles(col("text"), n)).cast(LongType).as("n_sh"))
    val pairs = containmentPairs(docs, n, minContainment)
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "na"),
        Seq("id_a"))
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "nb"),
        Seq("id_b"))
      .filter(col("nb") > col("na") ||
        (col("nb") === col("na") && col("id_b") < col("id_a")))
    val containers = pairs.groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("n_containers"))
    docs.select(col("doc_id")).join(containers, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_containers"), lit(0L)).as("n_containers"),
        when(col("n_containers").isNull, 1L).otherwise(0L).as("is_kept"))
  }

  /** Incremental containment KEEP — the decision table maintained per
    * batch: container counts are plain ABELIAN sums over the pair set,
    * and the incremental pair delta partitions the full pair set exactly
    * (≥1-new-member vs both-old), so merged counts equal a from-scratch
    * decision — including the RETRO-FLIP of an old doc that loses its
    * kept flag when a new, larger container arrives (the d15 retro-flag
    * story applied to keep decisions). In deployment `prevDecisions` is
    * the stored table; here it is recomputed for clarity.
    */
  def containmentKeepIncremental(existing: DataFrame, incoming: DataFrame,
      n: Int, minContainment: Double): DataFrame =
    containmentKeepIncremental(containmentKeep(existing, n, minContainment),
      existing, incoming, n, minContainment)

  /** As above with explicit `prevDecisions` — the stored decision table
    * (`ensureKeep`) a deployment reads instead of recomputing.
    */
  def containmentKeepIncremental(prevDecisions: DataFrame, existing: DataFrame,
      incoming: DataFrame, n: Int, minContainment: Double): DataFrame = {
    val union = existing.unionByName(incoming)
    // narrow |shingles| projection — see containmentKeep
    val sizes = Par.fan(union).select(col("doc_id"),
      size(shingles(col("text"), n)).cast(LongType).as("n_sh"))
    val prev = prevDecisions
    val delta = containmentPairsIncremental(existing, incoming, n, minContainment)
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "na"),
        Seq("id_a"))
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "nb"),
        Seq("id_b"))
      .filter(col("nb") > col("na") ||
        (col("nb") === col("na") && col("id_b") < col("id_a")))
      .groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("d_containers"))
    val base = prev.select(col("doc_id"), col("n_containers"))
      .unionByName(incoming.select(col("doc_id"))
        .withColumn("n_containers", lit(0L)))
    base.join(delta, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_containers") + coalesce(col("d_containers"), lit(0L)))
          .as("n_containers"))
      .withColumn("is_kept",
        when(col("n_containers") === 0, 1L).otherwise(0L))
  }

  /** Incremental exact dedup with a Bloom prefilter — the batch-arrival
    * fast path for a corpus too large to re-shuffle per batch. The
    * existing corpus is summarized ONCE into a KB-scale Bloom filter
    * over content hashes (`bloom_filter_agg`; in a deployment this is a
    * stored artifact maintained per append, like the dedup cluster
    * state; `stat.bloomFilter` merges per-partition sketches, keys are
    * never collected). An incoming batch dedups within itself (one
    * batch-sized groupBy), then probes the filter with Catalyst's
    * codegen-native `BloomFilterMightContain`: Bloom NEGATIVES are
    * PROVABLY new (no false negatives) and ship without ever touching
    * the corpus; only the positive sliver — true dups + the controlled
    * false-positive rate — anti-joins against stored corpus hashes for
    * exact verification. So per batch the existing corpus contributes
    * one KB-scale sketch plus an anti-join whose probe side is
    * positives-only, and the output is EXACTLY the genuinely-new
    * contents (hash-green vs the plain anti-join oracle).
    */
  def incrementalExactDedup(existing: DataFrame, incoming: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val exHash = existing
      .select(md5(normalizeText(col("text"))).as("content_hash"))
    val bloom = RuntimeFilter.bloomBytes(
      exHash.select(xxhash64(col("content_hash")).as("h")), "h",
      expectedItems, fpp)
    val inCanon = incoming
      .groupBy(md5(normalizeText(col("text"))).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
    val probed = inCanon.withColumn("maybe_dup",
      RuntimeFilter.mightContain(bloom, xxhash64(col("content_hash"))))
    val provablyNew = probed.filter(!col("maybe_dup")).drop("maybe_dup")
    val verified = probed.filter(col("maybe_dup")).drop("maybe_dup")
      .join(exHash.dropDuplicates("content_hash"), Seq("content_hash"), "left_anti")
    provablyNew.unionByName(verified)
  }

  /** Prefix-filtering set-similarity join (the PPJoin candidate scheme):
    * the GUARANTEED-recall scale path for near-dup pairs, where LSH's
    * recall is only probabilistic. Shingles are globally ordered by
    * (document frequency asc, shingle) — rarest first; a doc with |s|
    * shingles exposes only its first |s| − ⌈t·|s|⌉ + 1 as join keys.
    * Theorem (prefix filter): two sets with Jaccard ≥ t must share at
    * least one prefix token under a common total order — so candidate
    * generation misses NOTHING above threshold, and exact verification
    * makes the output EQUAL `jaccardPairs` by construction (d11 shares
    * d2's oracle). Posting lists join on the RAREST tokens, so candidate
    * volume tracks the true near-dup density, not n².
    *
    * Scale shape: one groupBy for document frequencies, one doc-sized
    * window to rank shingles within each doc, a self-join on prefix
    * tokens only, then output-sized verification.
    */
  /** One-pass shingle SETS table (doc_id, sh), eagerly pinned
    * (localCheckpoint): the prefix/containment joins read the shingle
    * computation 6–10× per query (frequency count, prefix projections,
    * posting fabric on both join sides, exact verification on both
    * endpoints) — pinning the NARROW per-doc array table makes every
    * branch read one materialization instead of re-running
    * scan+normalize+shingle per branch. r12 measured pinning the
    * EXPLODED rows as a loss (corpus-sized row blocks); the sets table
    * is the per-doc form — the same store-this-table shape
    * DedupIndexStore persists, and the dsir/lmScore single-pass
    * doctrine. At 100 TB this materialization is "write the shingle-set
    * table once per job", which the index stores already institutionalize.
    */
  private def shingleSetsPinned(docs: DataFrame, n: Int): DataFrame =
    Par.fan(docs).select(col("doc_id"), shingles(col("text"), n).as("sh"))
      .localCheckpoint(true)

  /** Sized shingle rows derived from a pinned sets table — same schema
    * and values as `shingleRowsSized` (sz = the distinct-shingle array
    * size), but the explode reads stored arrays instead of recomputing
    * the shingle pass.
    */
  private def rowsFromSets(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("sh")).as("s"),
      size(col("sh")).cast(LongType).as("sz"))

  def prefixFilterPairs(docs: DataFrame, n: Int, minJaccard: Double): DataFrame = {
    val sets = shingleSetsPinned(docs, n)
    val sh = rowsFromSets(sets)
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = dfPrefixRows(sh, freq, minJaccard)
    val a = prefix.as("a"); val b = prefix.as("b")
    val cands = a.join(b,
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyPairsSets(sets, cands, minJaccard)
  }

  /** Rarest-first prefix rows under a given document-frequency order:
    * rank each doc's shingles by (df asc, shingle), keep the first
    * |s| − ⌈t·|s|⌉ + 1 — one doc-sized window + one join against the
    * frequency table. Input must be SIZED shingle rows
    * (`shingleRowsSized`): the per-doc set size rides along from the
    * array instead of a second (unordered-count) window pass.
    */
  private def dfPrefixRows(sh: DataFrame, freq: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    sh.join(freq, Seq("s"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("doc_id"), col("s"))
  }

  /** Incremental near-dup pairs for a GROWING corpus: candidates touch
    * only new×new and new×existing — the existing corpus never SELF-joins
    * again (the quadratic piece is gone; what remains per batch is one
    * narrow frequency count, two prefix projections, and joins whose one
    * side is batch-sized). Correctness: the prefix theorem needs only a
    * common total order WITHIN this batch's comparison — both sides'
    * prefixes here use the same union-corpus (df, shingle) order, so any
    * qualifying pair with ≥1 new member must collide; old×old pairs were
    * found when those docs were themselves new, under that batch's order
    * (each valid independently). Rarest-first keeps candidate volume
    * near-dup-sized — and the df counts feeding the order are plain
    * abelian sums, so a production deployment maintains them
    * incrementally (the IncrementalMart pattern) instead of recounting.
    * Exact verification runs over candidates only. Output schema =
    * `jaccardPairs`; old-pairs ∪ incremental == full-batch pairs
    * (PipelineOpsSpec proves the composition).
    */
  def prefixFilterPairsIncremental(existing: DataFrame, incoming: DataFrame,
      n: Int, minJaccard: Double): DataFrame = {
    val setsNew = shingleSetsPinned(incoming, n)
    val setsOld = shingleSetsPinned(existing, n)
    val shNew = rowsFromSets(setsNew)
    val shOld = rowsFromSets(setsOld)
    val freq = shNew.unionByName(shOld)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val pNew = dfPrefixRows(shNew, freq, minJaccard)
    val pOld = dfPrefixRows(shOld, freq, minJaccard)
    val a = pNew.as("a")
    val newNew = a.join(pNew.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val newOld = a.join(pOld.as("b"), col("a.s") === col("b.s"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val cands = newNew.unionByName(newOld).dropDuplicates("id_a", "id_b")
    verifyPairsSets(setsNew.unionByName(setsOld), cands, minJaccard)
  }

  // ───── stored cluster state (the deployment surface for incremental dedup) ─────

  /** A per-corpus table, written once per (corpus dir, mtime, name) and
    * read thereafter.
    */
  private def cached(spark: SparkSession, name: String, corpusDir: String)(
      table: => DataFrame): DataFrame =
    spark.read.parquet(graft.etl.StateCache.ensure(graft.etl.StateCache.dedupRoot,
      name, corpusDir, "documents.parquet")(table.write.parquet(_)))

  /** Cluster labels of a corpus as a PERSISTED artifact — the state table
    * an incremental dedup deployment keeps between batches (app.Main's
    * `dedup --incremental` and Streams.dedupStream maintain exactly this
    * table). Built on first use per (corpus dir, params) and keyed by
    * documents.parquet mtime so a regenerated corpus rebuilds; later
    * invocations — bench timed runs included — only read, which is the
    * deployment cost model (the VectorIndexStore pattern applied to
    * dedup state). Labels come from the prefix-filter scale path, whose
    * pairs equal the exact Jaccard baseline by the prefix theorem.
    */
  def ensureClusters(spark: SparkSession, corpusDir: String, docs: DataFrame,
      n: Int, minJaccard: Double, tag: String): DataFrame =
    cached(spark, s"cc_${tag}_${n}_${(minJaccard * 1000).toInt}", corpusDir)(
      connectedComponents(prefixFilterPairs(docs, n, minJaccard)))

  /** Near-dup PAIR fabric of a corpus as a persisted artifact — the
    * edge set graph analytics (g2's seed expansion) and cluster builds
    * run over: built once per (corpus dir, mtime, params) via the
    * prefix-filter join, read thereafter (a deployment stores its pair
    * fabric; clusters are derived state on top of it).
    */
  def ensurePairs(spark: SparkSession, corpusDir: String, docs: DataFrame,
      n: Int, minJaccard: Double, tag: String): DataFrame =
    cached(spark, s"pairs_${tag}_${n}_${(minJaccard * 1000).toInt}", corpusDir)(
      prefixFilterPairs(docs, n, minJaccard))

  /** Containment keep decisions of a corpus as a PERSISTED artifact —
    * the decision table `containmentKeepIncremental` merges each batch
    * delta into (the ensureClusters pattern applied to keep decisions):
    * built on first use per (corpus dir, params), read thereafter, so a
    * registered incremental query's timed runs measure the delta merge
    * — the work a deployment actually pays per batch.
    */
  def ensureKeep(spark: SparkSession, corpusDir: String, docs: DataFrame,
      n: Int, minContainment: Double, tag: String): DataFrame =
    cached(spark, s"keep_${tag}_${n}_${(minContainment * 1000).toInt}", corpusDir)(
      containmentKeep(docs, n, minContainment))

  /** The full incremental-clusters computation FROM SCRATCH — the
    * one-query composition (PipelineOpsSpec pins it == batch CC; the
    * registered d13 serves prevLabels from `ensureClusters`' stored
    * artifact instead, the deployment shape). Shares ONE union-corpus document
    * frequency and ONE prefix projection per side across both pair
    * passes (the prefix theorem needs only a COMMON total order, so the
    * old×old self-join is as valid under the union order as under the
    * existing-only order — and exact verification makes either output
    * EQUAL `jaccardPairs(existing)`). The shared freq/prefix subtrees
    * are identical exchanges, so Spark's ReuseExchange computes them
    * once. A deployment skips the bootstrap entirely — `clusters` is
    * stored state (see app.Main.dedupIncremental / Streams.dedupStream);
    * this composition exists so the whole path is one oracle-checkable
    * query.
    */
  def incrementalClusters(existing: DataFrame, incoming: DataFrame,
      n: Int, minJaccard: Double): DataFrame = {
    val shNew = shingleRowsSized(incoming, n)
    val shOld = shingleRowsSized(existing, n)
    val freq = shNew.unionByName(shOld)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val pNew = dfPrefixRows(shNew, freq, minJaccard)
    val pOld = dfPrefixRows(shOld, freq, minJaccard)
    val oldCands = pOld.as("a").join(pOld.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val oldPairs = verifyPairs(existing, oldCands, n, minJaccard)
    val newNew = pNew.as("a").join(pNew.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val newOld = pNew.as("a").join(pOld.as("b"), col("a.s") === col("b.s"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val deltaCands = newNew.unionByName(newOld).dropDuplicates("id_a", "id_b")
    val delta = verifyPairs(existing.unionByName(incoming), deltaCands, n, minJaccard)
    ccIncremental(connectedComponents(oldPairs), delta)
  }

  /** MinHash near-dup pairs: LSH candidates whose estimated Jaccard
    * (fraction of agreeing signature components) ≥ minEst. est_micro in
    * integer micro-units (n_agree/64 is dyadic — float ties are real).
    * The agreement filter runs BEFORE the pair dedup, so the only wide
    * stage shuffles survivors, not every bucket collision.
    */
  def minhashPairs(docs: DataFrame, n: Int, minEst: Double): DataFrame = {
    val cands = lshCandidates(minhashSignatures(docs, n))
    cands
      .withColumn("n_agree",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
      .filter(col("n_agree") >= lit((minEst * NumHashes).ceil.toInt))
      .select(col("id_a"), col("id_b"),
        (col("n_agree") * 1000000L / NumHashes).cast(LongType).as("est_micro"))
      .dropDuplicates("id_a", "id_b")
  }

  // ───── b-bit MinHash (compressed signatures) ─────

  /** b=8-bit MinHash near-dup pairs: signatures are 64 B/doc (8× smaller
    * than d3's full MinHash — at 100 TB the signature table drops from
    * ~0.5 TB/1e9 docs to ~64 GB). Banding runs on 4-byte slices of the
    * packed longs; the Jaccard estimate applies the b-bit collision
    * correction Ĵ = (a − 1/256)/(1 − 1/256).
    */
  def bbitMinhashPairs(docs: DataFrame, n: Int, minEst: Double): DataFrame =
    bbitSigPairs(Par.fan(docs).select(col("doc_id"),
      TextSketches.bbitMinhashSig(col("text"), n).as("sig")), minEst)

  /** The 16 × 32-bit band slices of a packed b-bit signature (8 longs =
    * 64 × 8-bit minhash values): band i = bytes [4i, 4i+4) = half of
    * packed long i/2. Shared with `HammingIndexStore`'s b-bit face so
    * stored and batch rows slice the signature identically — the
    * pigeonhole contract both sides of every served pair rely on.
    */
  private[operators] def bbitBands(sig: Column): Seq[Column] =
    (0 until 16).map(i =>
      shiftright(element_at(sig, i / 2 + 1), (i % 2) * 32)
        .bitwiseAND(0xFFFFFFFFL))

  /** b-bit collision-corrected Jaccard estimate from an agreement count:
    * Ĵ = (a − 1/256)/(1 − 1/256), in integer micro-units (the d6 output
    * arithmetic, shared with the indexed serve).
    */
  private[operators] def bbitEst(nAgree: Column): Column = {
    val corr = 1.0 / 256.0
    (nAgree.cast(DoubleType) / NumHashes - corr) / (1.0 - corr)
  }

  /** `bbitMinhashPairs` over PRECOMPUTED signatures (doc_id, sig) — the
    * sig-level core the persisted band index serves through.
    */
  def bbitSigPairs(sigs: DataFrame, minEst: Double): DataFrame = {
    val banded = sigs.select(col("doc_id"), col("sig"),
        posexplode(array(bbitBands(col("sig")): _*)))
      .select(col("doc_id"), col("sig"), col("pos").as("band_id"), col("col").as("band_val"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        TextSketches.bbitAgree(col("a.sig"), col("b.sig")).as("n_agree"))
      // agreement filter BEFORE dedup: survivors ≪ bucket collisions
      .withColumn("est", bbitEst(col("n_agree")))
      .filter(col("est") >= minEst)
      .select(col("id_a"), col("id_b"),
        floor(col("est") * 1000000d).cast(LongType).as("est_micro"))
      .dropDuplicates("id_a", "id_b")
  }

  // ───── SimHash ─────

  /** 64-bit SimHash per doc from unigram token hashes: bit i of the
    * fingerprint is the sign of Σ_tokens (±1 per token's hash bit i).
    * A NARROW projection (graft.functions.SimHash64) — the explode +
    * 64-aggregate-column formulation shuffled the whole token stream.
    */
  def simhash(docs: DataFrame): DataFrame =
    Par.fan(docs).select(col("doc_id"), TextSketches.simhash64(col("text")).as("simhash"))

  /** SimHash near-dup pairs: join on one of eight 8-bit bands, then filter
    * by exact popcount of the XOR. With 8 bands, any pair within hamming
    * distance ≤ 7 must agree on ≥1 full band (pigeonhole) — so for
    * maxHamming ≤ 7 this is EXACT, never materializing n² pairs.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    hammingBandPairs(simhash(docs), maxHamming)

  /** The band-join pair search over ANY 64-bit fingerprint column
    * (doc_id, simhash) — shared by SimHash text near-dup and the
    * multimodal perceptual-hash path (Media.perceptualHash).
    */
  def hammingBandPairs(sig: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 7, "band join is exact only for hamming <= bands-1 = 7")
    val banded = sig.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 8).map(k =>
          shiftright(col("simhash"), k * 8).bitwiseAND(0xFFL)): _*)))
      .select(col("doc_id"), col("simhash"), col("pos").as("band"), col("col").as("band_val"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // popcount-filter BEFORE the dedup shuffle: a homogeneous corpus
      // clusters in hamming space, so band buckets produce millions of
      // candidate pairs — deduping survivors (thousands) instead of
      // candidates (millions) keeps the only wide stage small
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }
}
