package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus quality scoring and retrieval — the CCNet-style half of a
  * training-data pipeline that the dedup family doesn't cover: score
  * every document under a corpus-trained n-gram LM (the classic
  * perplexity quality gate), rank documents for a term query (BM25),
  * draw a deterministic weighted sample, and watch per-source
  * distribution drift with an exact KS statistic.
  *
  * Reference anchor: the reference's quality monitors count and
  * threshold (main.py:117-141 check mode); these operators are the
  * corpus-scale generalization.
  *
  * Oracle parity doctrine (see PipelineQueries): every float crosses
  * the engine boundary through DECIMAL(18,x) with the IDENTICAL double
  * op sequence on both sides; ranking keys are the rendered decimals
  * plus an integer tie-break, so order cannot flip between engines.
  */
object TextQuality {

  /** Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1, the
    * filter set Dolma/RedPajama/FineWeb re-use): per-doc integer metrics
    * and one boolean per published rule, plus the conjunction. Distinct
    * from `TextStats.qualityMetrics` (t2), which is a SCORE — this is the
    * hard-rule REJECTOR a pretraining pipeline runs first.
    *
    * All ratios are integer permille computed by the identical double op
    * sequence on both engines (floor(x·1000/y)), so the DuckDB oracle
    * hash-matches exactly. One narrow pass, no shuffle, no UDF.
    *
    * Rules kept engine-side (line-structure rules need newline-bearing
    * corpora; the synthetic docs are single-line so those would be
    * constant-true here):
    *   r_words:  50 ≤ n_words ≤ 100 000
    *   r_len:    3 ≤ mean word length ≤ 10
    *   r_symbol: symbol-to-word ratio (#, …) < 0.1
    *   r_alpha:  ≥ 80 % of words contain a letter
    *   r_stop:   ≥ 2 stopwords of the 8-word probe list
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    // every token-derived count comes out of ONE let-bound lambda struct:
    // the token array binds as a lambda variable (`transform(array(split
    // …), w -> …)[1]` — the t9 lesson), so the document tokenizes once
    // per evaluation of `g` no matter how a downstream filter (e2e10's
    // gate) substitutes it, and because the struct is expensive and
    // multiply-referenced, CollapseProject keeps it a separate projection
    // — the plan holds a single tokenization instead of one per metric
    val wSql = "split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')"
    val raw = expr(s"""element_at(transform(array($wSql), w -> named_struct(
        'n_words', CAST(size(w) AS BIGINT),
        'sum_len', aggregate(transform(w, t -> CAST(length(t) AS BIGINT)),
          CAST(0 AS BIGINT), (a, b) -> a + b),
        'n_alpha', CAST(size(filter(w, t -> t rlike '[a-z]')) AS BIGINT),
        'n_stop', CAST(size(filter(w, t -> array_contains(
          array('the', 'a', 'and', 'of', 'to', 'in', 'is', 'on'), t))) AS BIGINT)
      )), 1)""")
    val nWords = col("g.n_words")
    val meanLenMilli =
      floor(col("g.sum_len").cast(DoubleType) * 1000d / nWords.cast(DoubleType))
    val nSymbols = regexp_count(col("text"), lit("[#…]")).cast(LongType)
    val symbolPermille = floor(nSymbols.cast(DoubleType) * 1000d / nWords.cast(DoubleType))
    val alphaPermille =
      floor(col("g.n_alpha").cast(DoubleType) * 1000d / nWords.cast(DoubleType))
    docs.select(col("doc_id"), col("text"), raw.as("g"))
      .select(col("doc_id"), nWords.as("n_words"),
        meanLenMilli.cast(LongType).as("mean_word_len_milli"),
        symbolPermille.cast(LongType).as("symbol_permille"),
        alphaPermille.cast(LongType).as("alpha_permille"),
        col("g.n_stop").as("n_stopwords"))
      .withColumn("r_words",
        (col("n_words") >= 50L && col("n_words") <= 100000L).cast(LongType))
      .withColumn("r_len", (col("mean_word_len_milli") >= 3000L &&
        col("mean_word_len_milli") <= 10000L).cast(LongType))
      .withColumn("r_symbol", (col("symbol_permille") < 100L).cast(LongType))
      .withColumn("r_alpha", (col("alpha_permille") >= 800L).cast(LongType))
      .withColumn("r_stop", (col("n_stopwords") >= 2L).cast(LongType))
      .withColumn("passes", (col("r_words") === 1L && col("r_len") === 1L &&
        col("r_symbol") === 1L && col("r_alpha") === 1L &&
        col("r_stop") === 1L).cast(LongType))
  }

  /** Per-document cross-entropy (avg negative log-prob, nats) under an
    * add-one-smoothed trigram LM trained on the corpus itself:
    * P(w3|w1 w2) = (c(w1 w2 w3) + 1) / (c(w1 w2 ·) + V).
    *
    * Shape at scale: trigram occurrences explode once (narrow, fanned),
    * the model is two hash aggs keyed by trigram/context (the t13
    * shuffle), scoring is two shuffle joins back on those keys plus a
    * 1-row broadcast vocab size. No data-sized window, no driver state;
    * the LM "model" never materializes on the driver.
    *
    * Output: (doc_id, n_tris, avg_nlp_micro) — docs with < 3 words drop
    * out. The score is integer micro-nats: the decimal sum of per-
    * trigram logs is exact and associative, ×1e6 is an exact integer,
    * and the integer division cannot hit a float rounding boundary
    * (a DECIMAL re-rounding of the double average flipped 1 doc in
    * 500 by 1e-6 between engines).
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val vocab = Par.fan(docs)
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    // the trigram stream feeds BOTH model aggregations and the scoring
    // join — materialize it once instead of re-running the explode three
    // times (the DSIR single-pass doctrine; at 100 TB this is the
    // persisted trigram event table)
    val tris = triRows(docs).localCheckpoint(true)
    val c3 = tris.groupBy(col("tri")).agg(count(lit(1)).as("c3"))
    val c2 = tris.groupBy(col("ctx")).agg(count(lit(1)).as("c2"))
    tris.join(c3, Seq("tri")).join(c2, Seq("ctx")).crossJoin(broadcast(vocab))
      .withColumn("nlp", log((col("c2") + col("v")).cast(DoubleType) /
        (col("c3") + lit(1L)).cast(DoubleType)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tris"),
        sum(col("nlp").cast(DecimalType(18, 6))).as("s6"))
      .select(col("doc_id"), col("n_tris"),
        expr("CAST(s6 * 1000000 AS BIGINT) DIV n_tris").as("avg_nlp_micro"))
  }

  /** A trained trigram LM: occurrence counts keyed by trigram/context
    * plus the 1-row vocab size — three DataFrames, so the model is a
    * persistable parquet artifact (the VectorIndexStore doctrine), never
    * driver-side state.
    */
  final case class LmModel(trigrams: DataFrame, contexts: DataFrame, vocab: DataFrame)

  /** Occurrence-grained (doc_id, tri, ctx) rows — the LM's event stream. */
  private def triRows(docs: DataFrame): DataFrame =
    // trigram strings from one native eval per doc (SpanArray — the
    // transform/element_at/concat lambda it replaces ran interpreted per
    // position); ctx is the trigram minus its last token, i.e. the first
    // two space-separated fields (tokens themselves never contain ' '),
    // so substring_index reads it back without touching the token array.
    // Docs with < 3 tokens yield an empty span array and vanish at the
    // explode, exactly like the old size(w) >= 3 filter.
    Par.fan(docs)
      .select(col("doc_id"),
        explode(graft.functions.TextSketches.spanArray(col("text"), 3)).as("tri"))
      .select(col("doc_id"), col("tri"),
        substring_index(col("tri"), " ", 2).as("ctx"))

  /** Train the trigram LM on a corpus (two hash aggs + a 1-row vocab agg). */
  def lmTrain(corpus: DataFrame): LmModel = {
    val tris = triRows(corpus)
    LmModel(
      trigrams = tris.groupBy(col("tri")).agg(count(lit(1)).as("c3")),
      contexts = tris.groupBy(col("ctx")).agg(count(lit(1)).as("c2")),
      vocab = Par.fan(corpus).select(explode(split(col("text"), " ")).as("tok"))
        .agg(countDistinct(col("tok")).as("v")))
  }

  /** Score a batch under a FROZEN model — the deployment path (train
    * once on the corpus, gate every incoming batch; the sem2
    * frozen-quantizer doctrine applied to the LM). Unseen trigrams and
    * contexts coalesce to 0, which is exactly what add-one smoothing
    * is for; `lmScoreWith(lmTrain(docs), docs)` equals `lmScore(docs)`
    * (QualitySpec pins it).
    */
  def lmScoreWith(model: LmModel, batch: DataFrame): DataFrame = {
    triRows(batch)
      .join(model.trigrams, Seq("tri"), "left")
      .join(model.contexts, Seq("ctx"), "left")
      .crossJoin(broadcast(model.vocab))
      .withColumn("nlp", log(
        (coalesce(col("c2"), lit(0L)) + col("v")).cast(DoubleType) /
          (coalesce(col("c3"), lit(0L)) + lit(1L)).cast(DoubleType)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tris"),
        sum(col("nlp").cast(DecimalType(18, 6))).as("s6"))
      .select(col("doc_id"), col("n_tris"),
        expr("CAST(s6 * 1000000 AS BIGINT) DIV n_tris").as("avg_nlp_micro"))
  }

  /** Incremental LM scoring: train on the existing corpus, score only
    * the new batch — the existing corpus is never re-scored.
    */
  def lmScoreFrozen(existing: DataFrame, batch: DataFrame): DataFrame =
    lmScoreWith(lmTrain(existing), batch)

  /** The composed CCNet-style curation pipeline as ONE operator:
    * exact-dedup keep → language ID → LM perplexity terciles per
    * language → deterministic content-hash sampling with per-tercile
    * keep-rates (head/middle/tail permille). Returns the kept docs
    * with (pred_lang, bucket, avg_nlp_micro) attached — mx4's policy
    * over e2e8's grid, the product surface behind `Main.curate`.
    */
  def ccnetCurate(docs: DataFrame,
      rates: (Long, Long, Long) = (1000L, 700L, 300L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keep = TextDedup.exactDedup(docs)
      .select(col("canonical_id").as("doc_id"))
    val lang = TextStats.languageId(docs)
      .select(col("doc_id"), col("pred_lang"))
    val lm = lmScore(docs).select(col("doc_id"), col("avg_nlp_micro"))
    val wNt = Window.partitionBy(col("pred_lang"))
      .orderBy(col("avg_nlp_micro"), col("doc_id"))
    val bucketed = docs
      .join(keep, Seq("doc_id"), "left_semi")
      .join(lang, Seq("doc_id")).join(lm, Seq("doc_id"))
      .withColumn("bucket", ntile(3).over(wNt).cast(LongType))
    val rate = when(col("bucket") === 1L, lit(rates._1))
      .when(col("bucket") === 2L, lit(rates._2)).otherwise(lit(rates._3))
    Curation.mixSample(bucketed, rate)
  }

  /** BM25 top-k retrieval (k1 = 1.2, b = 0.75) for a fixed term set.
    *
    * Shape at scale: the token explode filters to the query terms
    * IMMEDIATELY (the scan side never shuffles non-matching tokens),
    * per-term document frequencies and the corpus length stats are
    * KB-sized broadcasts, and the final top-k is a TakeOrdered — no
    * global window, no full sort.
    *
    * Output: (doc_id, n_terms, bm25) — top k by (bm25 desc, doc_id).
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int,
      requireAll: Boolean = false): DataFrame = {
    val dls = Par.fan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).cast(LongType).as("dl"), col("w"))
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = dls.select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    bm25Rank(tf, stats, k, if (requireAll) Some(terms.size) else None)
  }

  /** Shared BM25 scorer over a term-filtered postings shortlist
    * (term, doc_id, dl, tf) + 1-row corpus stats (n_docs, sum_dl) —
    * used by both the direct path and TextIndexStore.search, so the
    * two paths agree by construction.
    */
  def bm25Rank(tf: DataFrame, stats: DataFrame, k: Int,
      requireAllOf: Option[Int] = None): DataFrame = {
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val perDoc = tf.join(broadcast(dfT), Seq("term")).crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .withColumn("idf", log(lit(1.0) +
        ((col("n_docs") - col("df")).cast(DoubleType) + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5))))
      .withColumn("sc", col("idf") * ((col("tf").cast(DoubleType) * lit(2.2)) /
        (col("tf").cast(DoubleType) + lit(1.2) *
          (lit(0.25) + lit(0.75) * (col("dl").cast(DoubleType) / col("avgdl"))))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("sc").cast(DecimalType(18, 6))).as("s6"))
    // AND semantics: a doc qualifies only if EVERY query term occurs
    // (n_terms counts distinct matched terms — tf is term-grained). The
    // filter runs before the top-k, so conjunctive queries return k full
    // matches, not k best partials.
    requireAllOf.fold(perDoc)(n => perDoc.filter(col("n_terms") === n.toLong))
      .select(col("doc_id"), col("n_terms"), col("s6").cast(DoubleType).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  // ───── supervised corpus classification (the fastText-style gate) ─────

  /** A trained multinomial Naive Bayes text classifier as DataFrames —
    * persistable parquet artifacts (the VectorIndexStore doctrine), never
    * driver-side state:
    *   classStats   (label, n_docs_c, t_c)  — doc count + token total per class
    *   tokenCounts  (label, tok, cnt)       — nonzero class-token counts
    *   vocab        (v)                     — 1-row trained vocab size
    * Counts are plain abelian sums, so `append` for a growing labeled
    * corpus is an exact counts merge (the IncrementalMart pattern).
    */
  final case class NbModel(classStats: DataFrame, tokenCounts: DataFrame, vocab: DataFrame)

  /** Train multinomial NB with add-one smoothing on a labeled corpus:
    * P(c) = n_docs_c / N, P(tok|c) = (cnt(tok,c) + 1) / (t_c + V).
    * Three hash aggs keyed by label/token — no driver-side model.
    */
  def nbTrain(corpus: DataFrame, labelCol: String = "lang"): NbModel = {
    val toks = Par.fan(corpus)
      .select(col(labelCol).as("label"), explode(split(col("text"), " ")).as("tok"))
    // tokenCounts is the ONE occurrence-grained aggregation; t_c and the
    // vocab size are exact rollups of it (t_c = Σ_tok cnt per label, v =
    // |distinct tok| = |distinct tok over the (label, tok) pairs|), so
    // all three model tables share the same (label, tok) Exchange — the
    // corpus is exploded once per plan (ReuseExchange dedups the
    // identical subtree), not three times.
    val tokenCounts = toks.groupBy(col("label"), col("tok")).agg(count(lit(1)).as("cnt"))
    NbModel(
      classStats = corpus.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as("n_docs_c"))
        .join(tokenCounts.groupBy(col("label")).agg(sum(col("cnt")).as("t_c")),
          Seq("label")),
      tokenCounts = tokenCounts,
      vocab = tokenCounts.agg(countDistinct(col("tok")).as("v")))
  }

  /** Score a batch under a (frozen) NB model and pick the argmax class —
    * the quality/domain classifier gate every LLM curation pipeline runs
    * (fastText-style: linear in token counts, exactly this log-space sum).
    *
    * score(d, c) = ln P(c) + Σ_tok∈d ln(cnt(tok,c)+1) − |d|·ln(t_c + V)
    * — algebraically the add-one-smoothed log-posterior, regrouped so only
    * NONZERO (label, tok) counts are ever joined (an OOV or zero-count
    * token's ln(0+1) = 0 vanishes, and its denominator rides the |d| term).
    *
    * Oracle-parity shape (the t15 doctrine): every ln is DECIMAL(18,6)-cast
    * once, per-occurrence sums are exact decimal adds, |d|·lnden is a
    * DECIMAL(18,0)×DECIMAL(18,6) exact product, and the output is integer
    * micro-nats — argmax ties (identical exact decimals) break on label.
    *
    * Shape at scale: the scoring join is occurrence-grained on the token
    * (same fabric as lmScore); class constants are a broadcast of
    * n_classes rows; the argmax window partitions by doc — never global.
    *
    * Output: (doc_id, pred_label, score_micro). A doc whose text is null
    * gets no output row (it has no tokens to score); an empty text is one
    * empty token and is scored.
    */
  def nbScoreWith(model: NbModel, batch: DataFrame): DataFrame = {
    // (doc, tok, k) term frequencies, not raw occurrences: the scoring
    // join multiplies every joined row by the token's matching labels,
    // so collapsing repeats BEFORE the join shrinks both the join input
    // and the (doc, label) shuffle (guide §2.3 aggregate-before-shuffle).
    // Σ_occ lnw6 = Σ_tok k·lnw6 exactly — decimal products and sums.
    val tf = Par.fan(batch)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
    // |tokens| read off the split array — narrow, no explode+shuffle+agg;
    // identical to the per-doc occurrence count (split keeps empties, so
    // even an empty text yields 1 both ways). Null-text docs are dropped
    // — the explode-based docLen emitted no row for them, and a null
    // n_toks would otherwise survive the crossJoin and emit a null score.
    val docLen = Par.fan(batch).where(col("text").isNotNull)
      .select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("n_toks"))
    val total = model.classStats.agg(sum(col("n_docs_c")).as("n_docs"))
    val consts = model.classStats.crossJoin(total).crossJoin(model.vocab)
      .select(col("label"),
        log(col("n_docs_c").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .cast(DecimalType(18, 6)).as("prior6"),
        log((col("t_c") + col("v")).cast(DoubleType))
          .cast(DecimalType(18, 6)).as("lnden6"))
    val w = model.tokenCounts.select(col("label"), col("tok"),
      log((col("cnt") + lit(1L)).cast(DoubleType)).cast(DecimalType(18, 6)).as("lnw6"))
    val s2 = tf.join(w, Seq("tok"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("lnw6") * col("k").cast(DecimalType(12, 0))).as("s2"))
    val wArg = Window.partitionBy(col("doc_id")).orderBy(col("sc6").desc, col("label"))
    docLen.crossJoin(broadcast(consts))
      .join(s2, Seq("doc_id", "label"), "left")
      .withColumn("sc6", col("prior6") +
        coalesce(col("s2"), lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 6))) -
        col("n_toks").cast(DecimalType(18, 0)) * col("lnden6"))
      .withColumn("rk", row_number().over(wArg)).filter(col("rk") === 1)
      .select(col("doc_id"), col("label").as("pred_label"),
        expr("CAST(sc6 * 1000000 AS BIGINT)").as("score_micro"))
  }

  /** Self-trained classification (train and predict on the same corpus) —
    * the label-recovery diagnostic run before trusting a labeled corpus.
    */
  def nbClassify(docs: DataFrame, labelCol: String = "lang"): DataFrame =
    nbScoreWith(nbTrain(docs, labelCol), docs)

  /** Incremental classification: the model is trained on the EXISTING
    * labeled corpus and frozen; only the incoming batch is scored (the
    * lmScoreFrozen doctrine — OOV tokens fall to the add-one floor).
    */
  def nbScoreFrozen(existing: DataFrame, batch: DataFrame,
      labelCol: String = "lang"): DataFrame =
    nbScoreWith(nbTrain(existing, labelCol), batch)

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis): key_i = -ln(u_i) / w_i with u_i a
    * content-derived uniform (md5 of the id — the mx1 reproducible-
    * sampling doctrine); the k smallest keys ARE the weighted sample.
    *
    * Shape at scale: one narrow projection + TakeOrdered(k); fully
    * reproducible across runs, engines and cluster sizes because no
    * RNG state is involved.
    *
    * Output: (doc_id, weight, samp_key) — top k by (samp_key, doc_id).
    */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame = {
    Par.fan(docs)
      .select(col(idCol), col(weightCol).cast(LongType).as("weight"))
      .withColumn("h", conv(substring(md5(col(idCol).cast(StringType)), 1, 8), 16, 10)
        .cast(LongType))
      .withColumn("u", (col("h") + lit(1L)).cast(DoubleType) / lit(4294967297.0))
      .withColumn("samp_key", (-log(col("u")) / col("weight").cast(DoubleType))
        .cast(DecimalType(18, 12)).cast(DoubleType))
      .select(col(idCol), col("weight"), col("samp_key"))
      .orderBy(col("samp_key"), col(idCol)).limit(k)
  }

  /** Exact two-sample Kolmogorov–Smirnov drift per source: for each
    * source, sup_x |F_source(x) - F_corpus(x)| over the `n_chars`
    * distribution, in integer micro-units — the distribution-shape
    * sibling of dq2's category-mix L1.
    *
    * All arithmetic is integer (the sup is maximized over the common
    * denominator n_s·N before one final integer division), so the
    * statistic is exact on both engines. The cumulative windows run
    * over the DISTINCT VALUE DOMAIN of the metric (doc lengths — a few
    * hundred values regardless of corpus size), not over rows, so the
    * unpartitioned corpus-CDF window is domain-bounded, not data-sized.
    * NB at >2^31 docs the micro-scaling products approach Long range —
    * a 100 TB deployment moves `num` to DECIMAL(38,0) (same plan).
    *
    * Output: (source, ks_micro).
    */
  def ksDrift(docs: DataFrame, valueCol: String = "n_chars",
      domainCap: Int = 100000): DataFrame = {
    // the (source, x) count grid is DOMAIN-bounded (sources × distinct
    // metric values — KB), and every stage below derives from it, so
    // materialize it once: the upstream (which may be a full LM scoring
    // pass, as in dq4) runs exactly one time instead of once per
    // downstream reference + once for the eager domain probe
    val cnt = docs.groupBy(col("source"), col(valueCol).as("x"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val nS = cnt.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val corpus = cnt.groupBy(col("x")).agg(sum(col("c")).as("c_all"))
    // `wAll` below is an UNPARTITIONED window — safe by design because it
    // runs over the distinct VALUE DOMAIN of the metric (corpus rows =
    // distinct x values, a few hundred for doc lengths), never over data
    // rows. Enforce that contract: fail fast if the domain outgrows the
    // cap instead of silently funneling it through one window partition
    // (at which point the caller should bin the metric first, as
    // qualityDrift does with centi-nat binning). The probe scans at most
    // cap+1 rows of the aggregated domain table.
    val domainN = corpus.limit(domainCap + 1).count()
    require(domainN <= domainCap,
      s"ksDrift: $valueCol has >$domainCap distinct values — bin the metric " +
        "before the CDF (the unpartitioned cumulative window is only " +
        "domain-bounded, not data-bounded)")
    val wAll = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val corpusCum = corpus
      .withColumn("cum_all", sum(col("c_all")).over(wAll))
      .select(col("x"), col("cum_all"))
    val total = corpus.agg(sum(col("c_all")).as("n_tot"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val srcCum = cnt
      .withColumn("cum_s", sum(col("c")).over(wSrc))
      .select(col("source"), col("x"), col("cum_s"))
    // Evaluate at EVERY corpus value (the sup can sit at a jump the
    // source doesn't have); forward-fill the source CDF with a running
    // max — cum_s is monotone, so max == last non-null.
    val wFill = Window.partitionBy(col("source")).orderBy(col("x"))
    nS.crossJoin(corpusCum)
      .join(srcCum, Seq("source", "x"), "left")
      .withColumn("cum_s_f", coalesce(max(col("cum_s")).over(wFill), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("num", abs(col("cum_s_f") * col("n_tot") - col("cum_all") * col("n_s")))
      .groupBy(col("source"), col("n_s"), col("n_tot"))
      .agg(max(col("num")).as("m"))
      .select(col("source"), expr("m * 1000000L DIV (n_s * n_tot)").as("ks_micro"))
  }
}
