package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftprobe.Blocks
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.Outcome

import graft.etl.ParquetTableStore
import graft.multimodal.Media
import graft.streaming.Streams

class MediaStreamingSpec extends SparkTestBase {
  import spark.implicits._

  /** The `graft*` entries of the temp root that a test created (its
    * stores, arrival dirs and checkpoints) are deleted when it ends.
    */
  override def withFixture(test: NoArgTest): Outcome = {
    val before = tempEntries()
    try super.withFixture(test)
    finally (tempEntries() -- before).foreach(p => ParquetTableStore.deleteStoreDir(p.toString))
  }

  private def tempEntries(): Set[Path] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft")).toSet
    finally s.close()
  }

  test("media feature extraction is deterministic and md5-correct") {
    val media = Seq(
      Media.MediaFile(1L, "image", "abc".getBytes("UTF-8"), "s"),
      Media.MediaFile(2L, "audio", Array.fill[Byte](1000)(7), "s"))
      .toDS()
    val feats = Media.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats(0).byte_len == 3L)
    assert(feats(0).content_md5 == "900150983cd24fb0d6963f7d28e17f72") // md5("abc")
    assert(feats(0).width == 3 && feats(0).height == 21 && feats(0).n_frames == 3)
    assert(feats(1).byte_len == 1000L)
    assert(feats(1).width == 1000 % 640 && feats(1).height == 7000 % 480)
  }

  test("documents-as-media keeps payload bytes identical to the text") {
    val docs = Tables.documents(spark, sfTiny).limit(5)
    val feats = Media.extractFeatures(Media.documentsAsMedia(spark, docs))
    val joined = feats.toDF().join(docs, col("media_id") === col("doc_id"))
      .select(col("byte_len"), length(col("text")).cast("long").as("text_len"),
        col("content_md5"), md5(col("text")).as("text_md5"))
    joined.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1)) // ASCII corpus: bytes == chars
      assert(r.getString(2) == r.getString(3))
    }
  }

  test("perceptualHash survives payloads past the Int-arithmetic overflow point") {
    // 63*(n-1) overflows Int for n > ~34 MB — the offset math must run in
    // Long or the sampled index goes negative and throws
    val n = 40 * 1024 * 1024
    val payload = Array.tabulate[Byte](n)(i => (i % 251).toByte)
    val media = Seq(Media.MediaFile(9L, "video", payload, "s")).toDS()
    val h = Media.perceptualHash(media).collect()
    assert(h.length == 1 && h.head.media_id == 9L)
    // deterministic: same payload → same hash
    val h2 = Media.perceptualHash(media).collect()
    assert(h.head.phash == h2.head.phash)
  }

  test("media band index: served pairs == recompute restricted; append == one-shot; re-serve guard") {
    import graft.multimodal.MediaIndexStore
    import graft.operators.TextDedup
    def sig(rows: Seq[(Long, String)]) =
      Media.perceptualHash(Media.documentsAsMedia(spark,
        rows.map { case (id, t) => (id, t, "planted") }
          .toDF("doc_id", "text", "source"))).toDF()
    val a = "the same payload bytes in every respect for this media file"
    val b = "completely different content with other characters entirely xyz"
    val c = "a third unique payload that matches nothing else in the corpus"
    val corpus1 = Seq(2L -> a); val corpus2 = Seq(4L -> b)
    val batch = Seq(11L -> a, 13L -> c) // 11 duplicates corpus 2 exactly
    val oneShot = new graft.etl.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-midx1").toString)
    MediaIndexStore.build(oneShot, sig(corpus1 ++ corpus2), maxHamming = 7)
    val appended = new graft.etl.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-midx2").toString)
    MediaIndexStore.build(appended, sig(corpus1), maxHamming = 7)
    MediaIndexStore.append(appended, sig(corpus2))
    val p1 = MediaIndexStore.pairsIncremental(oneShot, sig(batch))
      .as[(Long, Long, Int)].collect().toSet
    val p2 = MediaIndexStore.pairsIncremental(appended, sig(batch))
      .as[(Long, Long, Int)].collect().toSet
    assert(p1 == p2, s"append-after-build diverged: $p1 vs $p2")
    // recompute twin restricted to batch-touching pairs
    val full = TextDedup.hammingBandPairs(
        sig(corpus1 ++ corpus2 ++ batch)
          .select($"media_id".as("doc_id"), $"phash".as("simhash")), 7)
      .filter($"id_a" >= 10L || $"id_b" >= 10L)
      .as[(Long, Long, Int)].collect().toSet
    assert(p1 == full && p1.contains((2L, 11L, 0)), s"served $p1 != recompute $full")
    // re-serve guard: absorb the batch, serve it again — same answer
    MediaIndexStore.append(appended, sig(batch))
    val p3 = MediaIndexStore.pairsIncremental(appended, sig(batch))
      .as[(Long, Long, Int)].collect().toSet
    assert(p3 == p1, s"re-serve after absorb drifted: $p3 vs $p1")
    // compact: serve unchanged
    MediaIndexStore.compact(appended)
    assert(MediaIndexStore.pairsIncremental(appended, sig(batch))
      .as[(Long, Long, Int)].collect().toSet == p1)
  }

  test("dedup stream: per-batch delta pairs + label merge equal batch dedup") {
    import graft.operators.TextDedup
    val docsDir = java.nio.file.Files.createTempDirectory("graft_dd_docs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dd_ckpt").toString
    val storeDir = java.nio.file.Files.createTempDirectory("graft_dd_store").toString
    val store = new graft.etl.ParquetTableStore(spark, storeDir)
    val docs = Tables.documents(spark, sfTiny)

    // file 1 arrives: the even-id half of the corpus
    docs.filter($"doc_id" % 2 === 0).write.mode("append").parquet(docsDir)
    Streams.dedupStream(spark, docsDir, store, ckpt).awaitTermination(120000)
    val afterB1 = store.read("clusters").as[(Long, Long)].collect().toMap
    assert(afterB1 == TextDedup.connectedComponents(
        TextDedup.jaccardPairs(docs.filter($"doc_id" % 2 === 0), 3, 0.8))
      .as[(Long, Long)].collect().toMap,
      "batch-1 stream state != batch dedup of batch 1")

    // file 2 arrives: the odd-id half — only delta pairs are generated,
    // labels merge by contraction, yet state must equal a from-scratch
    // dedup of everything seen
    docs.filter($"doc_id" % 2 === 1).write.mode("append").parquet(docsDir)
    Streams.dedupStream(spark, docsDir, store, ckpt).awaitTermination(120000)
    val afterB2 = store.read("clusters").as[(Long, Long)].collect().toMap
    val batch = TextDedup.connectedComponents(
        TextDedup.jaccardPairs(docs, 3, 0.8))
      .as[(Long, Long)].collect().toMap
    assert(afterB2 == batch, "stream state drifted from batch dedup")
    assert(batch.nonEmpty, "no clusters — vacuous test")
    assert(store.read("corpus").count() == docs.count())
  }

  test("span stream: posting-list state tracks batch d14 across micro-batches") {
    import graft.operators.TextDedup
    val docsDir = java.nio.file.Files.createTempDirectory("graft_ss_docs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ss_ckpt").toString
    val storeDir = java.nio.file.Files.createTempDirectory("graft_ss_store").toString
    val store = new graft.etl.ParquetTableStore(spark, storeDir)
    val docs = Tables.documents(spark, sfTiny)

    docs.filter($"doc_id" % 2 === 0).write.mode("append").parquet(docsDir)
    Streams.spanStream(spark, docsDir, store, ckpt).awaitTermination(120000)
    val afterB1 = store.read("span_stats")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(afterB1 == TextDedup.duplicatedSpans(docs.filter($"doc_id" % 2 === 0), 8)
      .as[(Long, Long, Long, Long)].collect().toSet,
      "batch-1 span state != one-shot over batch 1")

    // batch 2: spans unique in batch 1 that the odd docs repeat must
    // retro-flag the OLD docs in the served stats
    docs.filter($"doc_id" % 2 === 1).write.mode("append").parquet(docsDir)
    Streams.spanStream(spark, docsDir, store, ckpt).awaitTermination(120000)
    val afterB2 = store.read("span_stats")
      .as[(Long, Long, Long, Long)].collect().toSet
    val oneShot = TextDedup.duplicatedSpans(docs, 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(afterB2 == oneShot, "span stream state drifted from one-shot d14")
    assert(oneShot.exists(_._3 > 0), "no duplicated spans — vacuous test")
    // the retro-update actually happened: some even doc's dup count grew
    val b1 = afterB1.map(r => r._1 -> r._3).toMap
    assert(afterB2.exists { r => b1.get(r._1).exists(_ < r._3) },
      "no old doc was retro-flagged by batch 2")

    // re-running with no new files must not disturb the state
    Streams.spanStream(spark, docsDir, store, ckpt).awaitTermination(120000)
    assert(store.read("span_stats")
      .as[(Long, Long, Long, Long)].collect().toSet == oneShot)
  }

  test("index append stream: arriving batches encode with frozen quantizers") {
    import graft.operators.VectorIndexStore
    val emb = Tables.embeddings(spark, sfTiny)
    val b0 = java.nio.file.Files.createTempDirectory("graft_ias_b0").toString + "/emb"
    emb.filter($"vec_id" % 2 === 0).write.parquet(b0)
    val idx = java.nio.file.Files.createTempDirectory("graft_ias_idx").toString + "/ivfpq"
    VectorIndexStore.writeIvfPq(idx, spark.read.parquet(b0))

    // the stream dir receives two files; each micro-batch append-encodes
    val streamDir = java.nio.file.Files.createTempDirectory("graft_ias_s").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ias_ck").toString
    emb.filter($"vec_id" % 4 === 1).write.mode("append").parquet(streamDir)
    Streams.indexAppendStream(spark, streamDir, idx, ckpt).awaitTermination(120000)
    emb.filter($"vec_id" % 4 === 3).write.mode("append").parquet(streamDir)
    Streams.indexAppendStream(spark, streamDir, idx, ckpt).awaitTermination(120000)

    // index now covers the full corpus and equals a batch build with the
    // same (frozen) quantizers
    val cents = VectorIndexStore.readCentroids(spark, s"$idx/centroids")
    val cb = VectorIndexStore.readCodebooks(spark, s"$idx/codebooks")
    val streamed = spark.read.parquet(s"$idx/codes")
      .select($"vec_id", $"cell", $"code").as[(Long, Int, Int)].collect().toSet
    val batch = graft.operators.PqIndex.buildIvfPqIndex(emb, cents, cb)
      .select($"vec_id", $"cell", $"code").as[(Long, Int, Int)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty,
      "streamed appends drifted from batch build")
  }

  test("quality stream: batches scored under the frozen stored LM, replay-idempotent") {
    import graft.operators.TextQuality
    val docs = Tables.documents(spark, sfTiny)
    val existing = docs.filter($"doc_id" % 2 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_qs").toString
    existing.write.parquet(s"$tmp/existing")
    graft.app.Main.qualityTrain(spark, s"$tmp/existing", s"$tmp/model")

    val docsDir = s"$tmp/incoming"
    val ckpt = s"$tmp/ckpt"
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/store")
    // two arriving files = two micro-batch slices of the odd docs
    docs.filter($"doc_id" % 4 === 1).write.mode("append").parquet(docsDir)
    docs.filter($"doc_id" % 4 === 3).write.mode("append").parquet(docsDir)
    Streams.qualityStream(spark, docsDir, s"$tmp/model", store, ckpt)
      .awaitTermination(120000)

    val streamed = store.read("quality_scores")
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = TextQuality.lmScoreFrozen(existing, docs.filter($"doc_id" % 2 === 1))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == oneShot && streamed.nonEmpty,
      "streamed frozen-LM scores drifted from the batch API")

    // replay with no new files: state undisturbed
    Streams.qualityStream(spark, docsDir, s"$tmp/model", store, ckpt)
      .awaitTermination(120000)
    assert(store.read("quality_scores")
      .as[(Long, Long, Long)].collect().toSet == oneShot)
  }

  test("decon stream: batches flagged under the frozen stored benchmark, replay-idempotent") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sfTiny)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dcs").toString
    emb.filter($"label" === 9).write.parquet(s"$tmp/bench")
    val corpus = emb.filter($"label" =!= 9)
    corpus.filter($"vec_id" % 2 === 0).write.parquet(s"$tmp/b0")
    // day 1: CLI batch build seeds benchmark + meta + batch-0 flags
    graft.app.Main.decon(spark, s"$tmp/b0", s"$tmp/store", s"$tmp/bench", 0.35)

    val embDir = s"$tmp/incoming"
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/store")
    // two arriving files = two micro-batch slices of the odd vectors
    corpus.filter($"vec_id" % 4 === 1).write.mode("append").parquet(embDir)
    corpus.filter($"vec_id" % 4 === 3).write.mode("append").parquet(embDir)
    Streams.deconStream(spark, embDir, store, s"$tmp/ckpt")
      .awaitTermination(120000)

    val streamed = store.read("flags").as[(Long, Double, Long)].collect().toSet
    val bench = Similarity.collectBenchmark(emb.filter($"label" === 9))
    val oneShot = Similarity.semanticContamination(corpus, bench, 0.35)
      .as[(Long, Double, Long)].collect().toSet
    assert(streamed == oneShot && streamed.exists(_._3 == 1L),
      "streamed frozen-benchmark flags drifted from the batch API")

    // replay with no new files: state undisturbed
    Streams.deconStream(spark, embDir, store, s"$tmp/ckpt")
      .awaitTermination(120000)
    assert(store.read("flags").as[(Long, Double, Long)].collect().toSet == oneShot)
  }

  test("dedup index stream: served pair deltas union to the batch pair set, batch-keyed output") {
    import graft.operators.{DedupIndexStore, TextDedup}
    val docs = Tables.documents(spark, sfTiny)
    val tmp = java.nio.file.Files.createTempDirectory("graft_didxs").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/idx")
    // index bootstrapped over the 0-mod-4 docs; stream delivers the rest
    DedupIndexStore.build(store, docs.filter($"doc_id" % 4 === 0),
      n = 3, tJac = 0.8, tCont = 0.8)
    val docsDir = s"$tmp/arrivals"
    docs.filter($"doc_id" % 4 === 2).write.mode("append").parquet(docsDir)
    Streams.dedupIndexStream(spark, docsDir, store, s"$tmp/pairs", s"$tmp/ckpt")
      .awaitTermination(120000)
    docs.filter($"doc_id" % 2 === 1).write.mode("append").parquet(docsDir)
    Streams.dedupIndexStream(spark, docsDir, store, s"$tmp/pairs", s"$tmp/ckpt")
      .awaitTermination(120000)
    // bootstrap pairs ∪ every served delta == one-shot pairs over it all
    val bootstrap = TextDedup.prefixFilterPairs(
        docs.filter($"doc_id" % 4 === 0), 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    val served = spark.read.parquet(s"$tmp/pairs")
      .select($"id_a", $"id_b", $"jac_micro")
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = TextDedup.jaccardPairs(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert((bootstrap ++ served) == oneShot,
      s"missing: ${oneShot.diff(bootstrap ++ served)}; extra: ${(bootstrap ++ served).diff(oneShot)}")
    assert(served.nonEmpty, "no served deltas — vacuous")
    // every indexed doc is in the sets table exactly once
    assert(store.read("sets").count() == docs.count())
  }

  test("kmv stream: waves fold to the one-shot synopsis bit-for-bit; replay absorbs") {
    import graft.operators.Sketches
    val li = Tables.lineitem(spark, sfTiny)
    val tmp = java.nio.file.Files.createTempDirectory("graft_kmvs").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/state")
    val dir = s"$tmp/arrivals"
    li.filter($"l_orderkey" % 2 === 0).write.mode("append").parquet(dir)
    Streams.kmvStream(spark, dir, store, s"$tmp/ckpt", "l_orderkey", 256, "s")
      .awaitTermination(120000)
    li.filter($"l_orderkey" % 2 === 1).write.mode("append").parquet(dir)
    Streams.kmvStream(spark, dir, store, s"$tmp/ckpt", "l_orderkey", 256, "s")
      .awaitTermination(120000)
    val one = Sketches.kmvSynopsis(li, $"l_orderkey", 256, "s")
      .as[Long].collect().toSeq
    val got = store.read("kmv").orderBy($"h").as[Long].collect().toSeq
    assert(got == one && one.length == 256,
      "streamed synopsis drifted from the one-shot")
    // full replay (fresh checkpoint, same files, NO guard anywhere):
    // the fold is idempotent — absorption, not bookkeeping
    Streams.kmvStream(spark, dir, store, s"$tmp/ckpt2", "l_orderkey", 256, "s")
      .awaitTermination(120000)
    assert(store.read("kmv").orderBy($"h").as[Long].collect().toSeq == one)
    // and the streamed estimate equals the one-shot estimate exactly
    val eStream = Sketches.kmvEstimate(store.read("kmv"), 256, "est")
      .head().getLong(0)
    val eOne = Sketches.kmvEstimate(Sketches.kmvSynopsis(li, $"l_orderkey",
      256, "s"), 256, "est").head().getLong(0)
    assert(eStream == eOne)
  }

  test("q1 mart stream: waves fold to the one-shot partials; replay no-ops; retract == never-included") {
    import graft.marts.TpchMart
    val li = Tables.lineitem(spark, sfTiny)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q1s").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/state")
    val dir = s"$tmp/arrivals"
    li.filter($"l_orderkey" % 2 === 0).write.mode("append").parquet(dir)
    Streams.q1MartStream(spark, dir, store, s"$tmp/ckpt").awaitTermination(120000)
    li.filter($"l_orderkey" % 2 === 1).write.mode("append").parquet(dir)
    Streams.q1MartStream(spark, dir, store, s"$tmp/ckpt").awaitTermination(120000)
    // two waves == the one-shot partials, compared on the RENDERED view
    // (the oracle contract: decimal folds are abelian, batching invisible)
    def rendered() = TpchMart.renderQ1(store.read("q1_state"))
      .collect().map(_.toString).toSeq
    val one = TpchMart.renderQ1(TpchMart.q1Partials(li)).collect().map(_.toString).toSeq
    assert(rendered() == one, "streamed mart drifted from the one-shot")
    // full replay (fresh checkpoint, same files): the seen-guard shrinks
    // every batch to empty — sums are not idempotent, bookkeeping is load-bearing
    Streams.q1MartStream(spark, dir, store, s"$tmp/ckpt2").awaitTermination(120000)
    assert(rendered() == one, "replayed wave double-counted")
    // takedown: subtracting one order-key slice's partials equals the
    // never-included rebuild bit-for-bit (abelian GROUP — forgetting is
    // subtraction, not re-derivation)
    val gone = li.filter($"l_orderkey" % 10 === 3)
    TpchMart.retract(store, gone)
    val without = TpchMart.renderQ1(TpchMart.q1Partials(
      li.filter($"l_orderkey" % 10 =!= 3))).collect().map(_.toString).toSeq
    assert(rendered() == without, "retracted state differs from never-included build")
  }

  test("pca stream: waves fold to the one-shot model bit-for-bit; full replay is a no-op") {
    import graft.operators.Pca
    val emb = Tables.embeddings(spark, sfTiny)
    val tmp = java.nio.file.Files.createTempDirectory("graft_pcas").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/state")
    val embDir = s"$tmp/arrivals"
    emb.filter($"vec_id" % 2 === 0).write.mode("append").parquet(embDir)
    Streams.pcaStream(spark, embDir, store, s"$tmp/ckpt").awaitTermination(120000)
    emb.filter($"vec_id" % 2 === 1).write.mode("append").parquet(embDir)
    Streams.pcaStream(spark, embDir, store, s"$tmp/ckpt").awaitTermination(120000)
    // the accumulated statistics fit the one-shot model EXACTLY — the
    // decimal fold is abelian, so arrival order and batching are invisible
    val streamed = Pca.fitFromStats(Pca.statsFromDf(store.read("pca_stats")), 4)
    val one = Pca.fit(emb, "embedding", 4)
    assert(streamed.mean.sameElements(one.mean))
    assert(streamed.eigenvalues.sameElements(one.eigenvalues))
    for (i <- 0 until 4)
      assert(streamed.components(i).sameElements(one.components(i)),
        s"streamed component $i differs from one-shot")
    // full replay (fresh checkpoint, same files): the seen-filter shrinks
    // every batch to empty — n does not double-count
    Streams.pcaStream(spark, embDir, store, s"$tmp/ckpt2").awaitTermination(120000)
    val after = Pca.statsFromDf(store.read("pca_stats"))
    assert(after.n == emb.count())
    val replayed = Pca.fitFromStats(after, 4)
    for (i <- 0 until 4)
      assert(replayed.components(i).sameElements(streamed.components(i)))
  }

  test("search stream: streamed batches index into the BM25 store == one-shot; torn stats heal") {
    import graft.operators.TextIndexStore
    val docs = Tables.documents(spark, sfTiny)
    val tmp = java.nio.file.Files.createTempDirectory("graft_srchs").toString
    val idx = s"$tmp/idx"
    // index bootstrapped over the 0-mod-4 docs; the stream delivers the
    // rest in two waves
    TextIndexStore.write(idx, docs.filter($"doc_id" % 4 === 0))
    val docsDir = s"$tmp/arrivals"
    docs.filter($"doc_id" % 4 === 2).write.mode("append").parquet(docsDir)
    Streams.searchStream(spark, docsDir, idx, s"$tmp/ckpt").awaitTermination(120000)
    docs.filter($"doc_id" % 2 === 1).write.mode("append").parquet(docsDir)
    Streams.searchStream(spark, docsDir, idx, s"$tmp/ckpt").awaitTermination(120000)
    // streamed index == a one-shot build over everything: stats and search
    val one = s"$tmp/one"
    TextIndexStore.write(one, docs)
    val terms = Seq("vector", "hash", "spark")
    def hits(d: String) = TextIndexStore.search(spark, d, terms, 10)
      .select($"doc_id", $"bm25").as[(Long, Double)].collect().toSet
    assert(hits(idx) == hits(one) && hits(idx).nonEmpty)
    def stats(d: String) = spark.read.parquet(s"$d/stats")
      .as[(Long, Long)].collect().toSet
    assert(stats(idx) == stats(one))
    // full replay (fresh checkpoint, same files): fresh-filter empties
    // every batch — no double-appended postings, stats unchanged
    Streams.searchStream(spark, docsDir, idx, s"$tmp/ckpt2").awaitTermination(120000)
    assert(hits(idx) == hits(one) && stats(idx) == stats(one))
    assert(spark.read.parquet(s"$idx/postings").count() ==
      spark.read.parquet(s"$one/postings").count())
    // torn append (postings landed, stats write lost — simulated by
    // corrupting stats): the next replayed no-op batch heals it, because
    // stats is a derivation of the postings, not an accumulator
    new graft.etl.ParquetTableStore(spark, idx).overwrite("stats",
      Seq((1L, 1L)).toDF("n_docs", "sum_dl"))
    Streams.searchStream(spark, docsDir, idx, s"$tmp/ckpt3").awaitTermination(120000)
    assert(stats(idx) == stats(one), "torn stats did not heal on replay")
    assert(hits(idx) == hits(one))
  }

  test("semdedup stream: streamed waves fold into the state, == one-shot under frozen cells") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sfTiny)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sds").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/state")
    // state bootstrapped over the even half; the stream delivers the odd
    // half in two waves (frozen even-corpus cells throughout)
    val even = emb.filter($"vec_id" % 2 === 0)
    Similarity.buildSemanticState(store, even, minCos = 0.3)
    val embDir = s"$tmp/arrivals"
    emb.filter($"vec_id" % 4 === 1).write.mode("append").parquet(embDir)
    Streams.semdedupStream(spark, embDir, store, s"$tmp/out", s"$tmp/ckpt")
      .awaitTermination(120000)
    emb.filter($"vec_id" % 4 === 3).write.mode("append").parquet(embDir)
    Streams.semdedupStream(spark, embDir, store, s"$tmp/out", s"$tmp/ckpt")
      .awaitTermination(120000)
    // two streamed waves == the one-shot incremental API (same frozen
    // cells, same accumulated within-cell pair set)
    val expected = Similarity.semanticDedupIncremental(even,
        emb.filter($"vec_id" % 2 === 1), minCos = 0.3)
      .as[(Long, Int, Long, Long)].collect().toSet
    val got = Similarity.servedClusters(store)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == expected, "streamed state drifted from the one-shot incremental")
    assert(expected.exists(_._4 == 0L), "no semantic dups — vacuous test")
    // batch-keyed outputs cover exactly the streamed rows
    val outIds = spark.read.parquet(s"$tmp/out").select($"vec_id")
      .as[Long].collect().toSet
    assert(outIds == emb.filter($"vec_id" % 2 === 1).select($"vec_id")
      .as[Long].collect().toSet)
    // full replay (fresh checkpoint, same files): the fresh-filter
    // shrinks every delivered batch to empty — state and outputs untouched
    Streams.semdedupStream(spark, embDir, store, s"$tmp/out", s"$tmp/ckpt2")
      .awaitTermination(120000)
    assert(Similarity.servedClusters(store)
      .as[(Long, Int, Long, Long)].collect().toSet == got)
    assert(spark.read.parquet(s"$tmp/out").select($"vec_id")
      .as[Long].collect().toSet == outIds)
  }

  test("band index stream: per-wave pair deltas union to the one-shot band pairs") {
    import graft.operators.{HammingIndexStore, TextDedup}
    val docs = Tables.documents(spark, sfTiny)
    def sig(df: org.apache.spark.sql.DataFrame) = TextDedup.simhash(df)
      .select($"doc_id", $"simhash".as("hash64"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_bands").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/idx")
    HammingIndexStore.build(store, sig(docs.filter($"doc_id" % 4 === 0)), 7)
    val sigDir = s"$tmp/arrivals"
    sig(docs.filter($"doc_id" % 4 === 2)).write.mode("append").parquet(sigDir)
    Streams.bandIndexStream(spark, sigDir, store, s"$tmp/pairs", s"$tmp/ckpt")
      .awaitTermination(120000)
    sig(docs.filter($"doc_id" % 2 === 1)).write.mode("append").parquet(sigDir)
    Streams.bandIndexStream(spark, sigDir, store, s"$tmp/pairs", s"$tmp/ckpt")
      .awaitTermination(120000)
    val bootstrap = TextDedup.simhashPairs(docs.filter($"doc_id" % 4 === 0), 7)
      .as[(Long, Long, Int)].collect().toSet
    val served = spark.read.parquet(s"$tmp/pairs")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect().toSet
    val oneShot = TextDedup.simhashPairs(docs, 7)
      .as[(Long, Long, Int)].collect().toSet
    assert((bootstrap ++ served) == oneShot,
      s"missing: ${oneShot.diff(bootstrap ++ served)}; extra: ${(bootstrap ++ served).diff(oneShot)}")
    assert(served.nonEmpty, "no served deltas — vacuous")
    // fresh-checkpoint replay over the full arrivals dir: the absorbed
    // docs' re-serve reproduces the union of what the two waves produced
    Streams.bandIndexStream(spark, sigDir, store, s"$tmp/pairs2", s"$tmp/ckpt2")
      .awaitTermination(120000)
    val reServed = spark.read.parquet(s"$tmp/pairs2")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect().toSet
    assert(reServed == served, s"re-serve drifted: ${reServed.diff(served)} / ${served.diff(reServed)}")
  }

  test("split stream: wave-2 assignments equal batch s11; freeze holds; replay no-op") {
    import graft.operators.{Curation, DedupIndexStore, TextDedup}
    val docs = Tables.documents(spark, sfTiny)
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft_splits").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/state")
    val docsDir = s"$tmp/arrivals"
    // wave 1: the even half — all clusters are fresh, so assignments must
    // equal s10 over the even half alone
    even.write.mode("append").parquet(docsDir)
    Streams.splitStream(spark, docsDir, store, s"$tmp/out", s"$tmp/ckpt")
      .awaitTermination(120000)
    val w1 = spark.read.parquet(s"$tmp/out/batch=0")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val evenLab = TextDedup.connectedComponents(
      TextDedup.jaccardPairs(even, 3, 0.8))
    val s10 = even.select($"doc_id")
      .join(evenLab.withColumnRenamed("cluster_id", "pc"), Seq("doc_id"), "left")
      .select($"doc_id",
        Curation.splitOfLabel(coalesce($"pc", $"doc_id")).as("split"))
      .as[(Long, String)].collect().toMap
    assert(w1 == s10, "wave-1 stream assignments != s10 over wave 1")
    // wave 2: the odd half — must equal the registered s11 computation
    // (corpus = even, batch = odd), because wave 1 froze exactly s10
    odd.write.mode("append").parquet(docsDir)
    Streams.splitStream(spark, docsDir, store, s"$tmp/out", s"$tmp/ckpt")
      .awaitTermination(120000)
    val w2 = spark.read.parquet(s"$tmp/out/batch=1")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val idx = new graft.etl.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_splits_idx").toString)
    DedupIndexStore.build(idx, even, n = 3, tJac = 0.8, tCont = 0.8)
    val newLab = TextDedup.ccIncremental(evenLab,
      DedupIndexStore.pairsIncremental(idx, odd, n = 3, minJaccard = 0.8))
    val s11 = Curation.incrementalSplit(even.select($"doc_id"),
        odd.select($"doc_id"), evenLab, newLab)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(w2 == s11, "wave-2 stream assignments != batch s11")
    assert(w2.nonEmpty && w1.nonEmpty, "vacuous")
    // the freeze: wave-1 docs keep their wave-1 split in the stored table
    val frozenNow = store.read("splits")
      .as[(Long, String)].collect().toMap
    w1.foreach { case (id, s) =>
      assert(frozenNow(id) == s, s"doc $id split drifted after wave 2")
    }
    // replay: re-running over the same arrivals serves nothing new
    val splitsBefore = store.read("splits").count()
    Streams.splitStream(spark, docsDir, store, s"$tmp/out", s"$tmp/ckpt2")
      .awaitTermination(120000)
    assert(store.read("splits").count() == splitsBefore,
      "replay appended duplicate assignments")
  }

  test("split stream --resolve: bridge quarantines, in-stream resolve clears it, wave 3 adopts") {
    import graft.operators.Curation
    // the export-stream resolve fixture, one level down: the standalone
    // assignment service must not leave bridges 'conflict' forever
    def text(i: Long) = (1 to 40).map(j => s"p${i}z$j").mkString(" ")
    val splitOf = (1L to 30L).toDF("doc_id")
      .select($"doc_id", Curation.splitOfLabel($"doc_id").as("s"))
      .as[(Long, String)].collect().toMap
    val (a, b) = (for {
      x <- (1L to 30L); y <- (1L to 30L)
      if x < y && splitOf(x) != splitOf(y)
    } yield (x, y)).head
    val fillers = (1L to 30L).filter(i => i != a && i != b).take(4)
    def d(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val wave1 = d((Seq(a, b) ++ fillers).sorted.map(i => i -> text(i)): _*)
    val wave2 = d(1001L -> (text(a) + " " + text(b)))
    val wave3 = d(2001L -> text(a))
    val tmp = java.nio.file.Files.createTempDirectory("graft_sstream_resolve").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/state")
    val docsDir = s"$tmp/arrivals"
    def run(): Unit =
      Streams.splitStream(spark, docsDir, store, s"$tmp/out", s"$tmp/ckpt",
        threshold = 0.4, resolveEvery = 1).awaitTermination(120000)
    wave1.write.mode("append").parquet(docsDir); run()
    wave2.write.mode("append").parquet(docsDir); run()
    val winner = Seq(splitOf(a), splitOf(b)).min
    val after2 = store.read("splits").as[(Long, String)].collect().toMap
    assert(!after2.valuesIterator.contains("conflict"),
      s"in-stream resolve left a conflict row: $after2")
    assert(Seq(a, b, 1001L).forall(after2(_) == winner))
    fillers.foreach(i => assert(after2(i) == splitOf(i), "untouched cluster moved"))
    // wave 3 adopts the resolved split through the stream
    wave3.write.mode("append").parquet(docsDir); run()
    val w3 = spark.read.parquet(s"$tmp/out/batch=2")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(w3 == Map(2001L -> winner),
      s"wave-3 member must adopt the resolved split, got $w3")
  }

  test("export stream: ascending waves regenerate the one-shot e2e12 manifest; replay no-op") {
    import graft.operators.{Curation, Par, TextDedup, TextQuality, TextStats}
    // planted corpus: ≥50-word Gopher-passing docs with disjoint
    // vocabularies; one in-wave dup, one cross-wave dup, one gate-fail
    def text(i: Long) = "the a and of " + (1 to 56).map(j => s"w${i}x$j").mkString(" ")
    val wave1 = ((1L to 6L).map(i => (i, text(i))) ++ Seq(
      (7L, text(1)),             // in-wave near-dup of doc 1 → not canonical
      (8L, "too short to pass")) // gate-fails (n_words < 50)
    ).toDF("doc_id", "text")
    val wave2 = ((11L to 16L).map(i => (i, text(i))) ++ Seq(
      (17L, text(2)))            // cross-wave dup of wave-1 doc 2 → dropped
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_export_stream").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/state")
    val docsDir = s"$tmp/arrivals"
    wave1.write.mode("append").parquet(docsDir)
    Streams.exportStream(spark, docsDir, store, s"$tmp/out", s"$tmp/ckpt",
      threshold = 0.8, budget = 64L, seqsPerShard = 2L).awaitTermination(120000)
    wave2.write.mode("append").parquet(docsDir)
    Streams.exportStream(spark, docsDir, store, s"$tmp/out", s"$tmp/ckpt",
      threshold = 0.8, budget = 64L, seqsPerShard = 2L).awaitTermination(120000)
    // the COMPOSITION contract: ascending waves → the stored manifest
    // equals the one-shot e2e12 export over the union corpus
    val all = wave1.unionByName(wave2)
    val gated = all.join(TextQuality.gopherRules(all)
      .filter($"passes" === 1).select($"doc_id"), Seq("doc_id"), "left_semi")
    val clusters = TextDedup.connectedComponents(
      TextDedup.jaccardPairs(gated, n = 3, minJaccard = 0.8))
    val canonical = gated.join(clusters
      .filter($"doc_id" =!= $"cluster_id").select($"doc_id"),
      Seq("doc_id"), "left_anti")
    val train = canonical
      .join(clusters.withColumnRenamed("cluster_id", "pc"), Seq("doc_id"), "left")
      .filter(Curation.splitOfLabel(coalesce($"pc", $"doc_id")) === "train")
    def mset(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, String)].collect().toSet
    val oneShot = mset(Curation.shardManifest(
        Par.fan(train).select($"doc_id",
          TextStats.wsTokenCount($"text").cast("long").as("n_tokens")),
        seed = "42", budget = 64L, seqsPerShard = 2L))
    val got = mset(store.read("manifest"))
    assert(got == oneShot && got.nonEmpty,
      s"streamed manifest drifted: extra ${got.diff(oneShot)} missing ${oneShot.diff(got)}")
    // the gate-fail, the non-canonical dup and the cross-wave dup are out
    val admitted = store.read("admitted").select($"doc_id").as[Long].collect().toSet
    assert(Seq(7L, 8L, 17L).forall(!admitted.contains(_)))
    assert(admitted.subsetOf((1L to 6L).toSet ++ (11L to 16L).toSet) && admitted.nonEmpty)
    // per-wave assignments landed
    assert(spark.read.parquet(s"$tmp/out/batch=0").count() > 0)
    assert(spark.read.parquet(s"$tmp/out/batch=1").count() > 0)
    // fresh-checkpoint replay over the full arrivals dir: everything is
    // absorbed → nothing assigned, manifest and admitted set unchanged
    Streams.exportStream(spark, docsDir, store, s"$tmp/out2", s"$tmp/ckpt2",
      threshold = 0.8, budget = 64L, seqsPerShard = 2L).awaitTermination(120000)
    assert(mset(store.read("manifest")) == got,
      "replay changed the manifest")
    assert(store.read("admitted").count() == admitted.size,
      "replay grew the admitted table")
  }

  test("export stream --resolve: bridge quarantines, in-stream resolve clears it, later waves adopt, manifest == batch lifecycle") {
    import graft.operators.Curation
    // Gopher-passing disjoint-vocabulary texts; two whose label hash
    // freezes them to DIFFERENT splits (the e2e13/s13 bridge fixture)
    def text(i: Long) = "the a and of " + (1 to 56).map(j => s"s${i}q$j").mkString(" ")
    val splitOf = (1L to 30L).toDF("doc_id")
      .select($"doc_id", Curation.splitOfLabel($"doc_id").as("s"))
      .as[(Long, String)].collect().toMap
    val (a, b) = (for {
      x <- (1L to 30L); y <- (1L to 30L)
      if x < y && splitOf(x) != splitOf(y)
    } yield (x, y)).head
    val fillers = (1L to 30L).filter(i => i != a && i != b).take(4)
    def d(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val wave1 = d((Seq(a, b) ++ fillers).sorted.map(i => i -> text(i)): _*)
    val wave2 = d(1001L -> (text(a) + " " + text(b))) // bridges a's and b's clusters
    val wave3 = d(2001L -> text(a))                   // future member of the resolved cluster
    val tmp = java.nio.file.Files.createTempDirectory("graft_xstream_resolve").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/state")
    val docsDir = s"$tmp/arrivals"
    def run(): Unit =
      Streams.exportStream(spark, docsDir, store, s"$tmp/out", s"$tmp/ckpt",
        threshold = 0.4, budget = 64L, seqsPerShard = 2L, resolveEvery = 1)
        .awaitTermination(120000)
    wave1.write.mode("append").parquet(docsDir); run()
    wave2.write.mode("append").parquet(docsDir); run()
    // the bridge quarantined on arrival, and the IN-STREAM resolve
    // adjudicated it before the wave finished: no conflict row survives,
    // the whole merged cluster sits on the tie-winner split
    val winner = Seq(splitOf(a), splitOf(b)).min
    val after2 = store.read("splits").as[(Long, String)].collect().toMap
    assert(!after2.valuesIterator.contains("conflict"),
      s"in-stream resolve left a conflict row: $after2")
    assert(Seq(a, b, 1001L).forall(after2(_) == winner),
      s"merged cluster must sit on $winner, got $after2")
    fillers.foreach(i => assert(after2(i) == splitOf(i),
      "untouched cluster moved"))
    // wave 3: the new member ADOPTS the resolved split at assignment
    // time (census is size 1 post-resolution) — through the STREAM
    wave3.write.mode("append").parquet(docsDir); run()
    val w3 = spark.read.parquet(s"$tmp/out/batch=2")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(w3 == Map(2001L -> winner),
      s"wave-3 member must adopt the resolved split, got $w3")
    // composition: the streamed lifecycle's final manifest equals the
    // BATCH lifecycle (serve all waves, resolve once, reconcile) on the
    // same corpus — the e2e13 shape
    val batchStore = new graft.etl.ParquetTableStore(spark, s"$tmp/batch_state")
    Seq(wave1, wave2, wave3).foreach(w =>
      Curation.exportServe(batchStore, w, threshold = 0.4, budget = 64L,
        seqsPerShard = 2L)(_ => ()))
    Curation.resolveConflictsInStore(batchStore)
    val (_, batchManifest) = Curation.exportReconcile(batchStore, 64L, 2L)
    def mset(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, String)].collect().toSet
    val got = mset(store.read("manifest"))
    assert(got == mset(batchManifest) && got.nonEmpty,
      s"streamed-resolve manifest drifted from the batch lifecycle")
    // and the admitted sets agree doc-for-doc
    assert(store.read("admitted").select($"doc_id").as[Long].collect().toSet ==
      batchStore.read("admitted").select($"doc_id").as[Long].collect().toSet)
  }

  test("suffix index stream: each wave's spans equal the as-of recompute; replay is a no-op") {
    import graft.operators.{SuffixDedup, SuffixIndexStore}
    val docs = Tables.documents(spark, sfTiny)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sfxs").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/idx")
    SuffixIndexStore.build(store, docs.filter($"doc_id" % 4 === 0),
      minLen = 8, maxLen = 32)
    val docsDir = s"$tmp/arrivals"
    docs.filter($"doc_id" % 4 === 2).write.mode("append").parquet(docsDir)
    Streams.suffixIndexStream(spark, docsDir, store, s"$tmp/spans", s"$tmp/ckpt")
      .awaitTermination(120000)
    docs.filter($"doc_id" % 2 === 1).write.mode("append").parquet(docsDir)
    Streams.suffixIndexStream(spark, docsDir, store, s"$tmp/spans", s"$tmp/ckpt")
      .awaitTermination(120000)
    // wave 1 was served vs (bootstrap ∪ wave1); wave 2 vs everything
    val wave1 = spark.read.parquet(s"$tmp/spans/batch=0")
      .as[(Long, Long, Long)].collect().toSet
    val exp1 = SuffixDedup.maxMatchSpans(
        docs.filter($"doc_id" % 2 === 0), minLen = 8, maxLen = 32)
      .filter($"doc_id" % 4 === 2).as[(Long, Long, Long)].collect().toSet
    assert(wave1 == exp1 && wave1.nonEmpty, "wave-1 spans drifted from as-of recompute")
    val wave2 = spark.read.parquet(s"$tmp/spans/batch=0")
      .unionByName(spark.read.parquet(s"$tmp/spans/batch=1")) // hive-less dirs
    val w2 = spark.read.parquet(s"$tmp/spans/batch=1")
      .as[(Long, Long, Long)].collect().toSet
    val exp2 = SuffixDedup.maxMatchSpans(docs, minLen = 8, maxLen = 32)
      .filter($"doc_id" % 2 === 1).as[(Long, Long, Long)].collect().toSet
    assert(w2 == exp2 && w2.nonEmpty, "wave-2 spans drifted from as-of recompute")
    assert(wave2.count() == (wave1.size + w2.size).toLong)
    // replay with no new files: outputs and state undisturbed
    val keysBefore = store.read("suffix").count()
    Streams.suffixIndexStream(spark, docsDir, store, s"$tmp/spans", s"$tmp/ckpt")
      .awaitTermination(120000)
    assert(spark.read.parquet(s"$tmp/spans/batch=1")
      .as[(Long, Long, Long)].collect().toSet == exp2)
    assert(store.read("suffix").count() == keysBefore)
  }

  test("dedup index stream --containment: served deltas union to the one-shot containment set") {
    import graft.operators.{DedupIndexStore, TextDedup}
    val docs = Tables.documents(spark, sfTiny)
    val tmp = java.nio.file.Files.createTempDirectory("graft_didxc").toString
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/idx")
    DedupIndexStore.build(store, docs.filter($"doc_id" % 4 === 0),
      n = 3, tJac = 0.8, tCont = 0.8)
    val docsDir = s"$tmp/arrivals"
    docs.filter($"doc_id" % 4 === 2).write.mode("append").parquet(docsDir)
    Streams.dedupIndexStream(spark, docsDir, store, s"$tmp/cont", s"$tmp/ckpt",
      containment = true).awaitTermination(120000)
    docs.filter($"doc_id" % 2 === 1).write.mode("append").parquet(docsDir)
    Streams.dedupIndexStream(spark, docsDir, store, s"$tmp/cont", s"$tmp/ckpt",
      containment = true).awaitTermination(120000)
    val bootstrap = TextDedup.containmentPairs(
        docs.filter($"doc_id" % 4 === 0), 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    val served = spark.read.parquet(s"$tmp/cont")
      .select($"id_a", $"id_b", $"cont_micro")
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = TextDedup.containmentPairs(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert((bootstrap ++ served) == oneShot,
      s"missing: ${oneShot.diff(bootstrap ++ served)}; extra: ${(bootstrap ++ served).diff(oneShot)}")
    assert(served.nonEmpty, "no served deltas — vacuous")
  }

  test("containment stream: decision state tracks batch d20 across micro-batches") {
    import graft.operators.TextDedup
    val docs = Tables.documents(spark, sfTiny)
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cs").toString
    val docsDir = s"$tmp/incoming"
    val ckpt = s"$tmp/ckpt"
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/store")

    even.write.mode("append").parquet(docsDir)
    Streams.containmentStream(spark, docsDir, store, ckpt).awaitTermination(120000)
    val afterB1 = store.read("containment")
      .as[(Long, Long, Long)].collect().toSet
    assert(afterB1 == TextDedup.containmentKeep(even, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet)

    odd.write.mode("append").parquet(docsDir)
    Streams.containmentStream(spark, docsDir, store, ckpt).awaitTermination(120000)
    val afterB2 = store.read("containment")
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = TextDedup.containmentKeep(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert(afterB2 == oneShot,
      s"stream-only: ${afterB2.diff(oneShot).take(3)}; batch-only: ${oneShot.diff(afterB2).take(3)}")

    // replay with no new files: counts are not idempotent under
    // re-merge, so this exercises the load-bearing seen-doc guard
    Streams.containmentStream(spark, docsDir, store, ckpt).awaitTermination(120000)
    assert(store.read("containment")
      .as[(Long, Long, Long)].collect().toSet == oneShot)
  }

  test("containment stream: torn corpus append heals to the one-shot state") {
    import graft.operators.TextDedup
    // the round-6 advice crash window: a batch lands in `corpus` but the
    // decision swap never commits. The merge view is corpus ∩ decisions,
    // so redelivery (fresh checkpoint = worst-case at-least-once) must
    // re-merge the orphaned docs exactly once — no double-counted
    // n_containers, no duplicated corpus rows.
    val docs = Tables.documents(spark, sfTiny)
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft_csheal").toString
    val docsDir = s"$tmp/incoming"
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/store")

    even.write.mode("append").parquet(docsDir)
    Streams.containmentStream(spark, docsDir, store, s"$tmp/ckpt1").awaitTermination(120000)
    // simulate the crash: odd docs appended to corpus, decisions untouched
    store.append("corpus", odd)
    odd.write.mode("append").parquet(docsDir)
    // fresh checkpoint: EVERY file redelivers
    Streams.containmentStream(spark, docsDir, store, s"$tmp/ckpt2").awaitTermination(120000)

    val got = store.read("containment").as[(Long, Long, Long)].collect().toSet
    val oneShot = TextDedup.containmentKeep(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == oneShot, "torn corpus append did not heal to the one-shot state")
    assert(store.read("corpus").groupBy($"doc_id").count()
      .filter($"count" > 1).count() == 0, "replay duplicated corpus rows")
    assert(store.read("corpus").count() == docs.count())
  }

  test("novelty stream: each batch scored against everything before it, replay-idempotent") {
    import graft.operators.{TextDedup, TextStats}
    val docs = Tables.documents(spark, sfTiny)
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft_nv").toString
    val docsDir = s"$tmp/incoming"
    val ckpt = s"$tmp/ckpt"
    val store = new graft.etl.ParquetTableStore(spark, s"$tmp/store")

    // batch 1: the first corpus slice — everything is novel
    even.write.mode("append").parquet(docsDir)
    Streams.noveltyStream(spark, docsDir, store, ckpt).awaitTermination(120000)
    // batch 2: scored against the counts batch 1 left behind
    odd.write.mode("append").parquet(docsDir)
    Streams.noveltyStream(spark, docsDir, store, ckpt).awaitTermination(120000)

    val streamed = store.read("novelty_scores")
      .select($"doc_id", $"n_shingles", $"n_unseen", $"novelty_permille")
      .as[(Long, Long, Long, Long)].collect().toSet
    val b1Exp = TextStats.noveltyAgainstFreq(even,
        Seq.empty[(String, Long)].toDF("s", "df"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val b2Exp = TextStats.noveltyScoresFrozen(even, odd)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == (b1Exp ++ b2Exp),
      "streamed novelty drifted from the sequential frozen-batch semantics")
    assert(b1Exp.forall(_._4 == 1000L), "first slice must be fully novel")
    assert(b2Exp.exists(_._4 < 1000L), "no cross-batch overlap — vacuous test")

    // replay with no new files: scores AND counts undisturbed
    Streams.noveltyStream(spark, docsDir, store, ckpt).awaitTermination(120000)
    assert(store.read("novelty_scores")
      .as[(Long, Long, Long, Long)].collect().toSet == (b1Exp ++ b2Exp))
    val freqExp = TextDedup.shingleRows(docs, 3)
      .groupBy($"s").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toSet
    assert(store.read("shingle_freq").as[(String, Long)].collect().toSet == freqExp,
      "stored shingle counts drifted from the full-corpus frequencies")
  }

  test("frame sampling slices deterministic md5-correct frames") {
    val media = Seq(Media.MediaFile(1L, "video", ("ab" * 100).getBytes("UTF-8"), "s")).toDS()
    val frames = Media.frameSample(media, frameSize = 64, stride = 2).collect()
    // 200 bytes → 3 full frames (0,1,2) → stride 2 keeps 0 and 2
    assert(frames.map(_.frame_idx).toSet == Set(0, 2))
    assert(frames.forall(_.frame_len == 64))
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest(("ab" * 32).getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(frames.find(_.frame_idx == 0).get.frame_md5 == expected)
  }

  test("streaming sessionize equals the batch twin on synthetic events") {
    val min = 60L * 1000000000L
    val events = Seq(
      Streams.SessionEvent(1L, 1L, 0L),
      Streams.SessionEvent(1L, 2L, 5 * min),
      Streams.SessionEvent(1L, 3L, 50 * min), // gap > 30 min → new session
      Streams.SessionEvent(2L, 4L, 10 * min))

    val batch = Streams.sessionizeBatch(events.toDS()).collect().toSet
    assert(batch == Set(
      Streams.Session(1L, 0L, 5 * min, 2L),
      Streams.Session(1L, 50 * min, 50 * min, 1L),
      Streams.Session(2L, 10 * min, 10 * min, 1L)))

    // streaming flavor: two micro-batches; closed sessions emitted on gap
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Streams.SessionEvent]
    val q = Streams.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    stream.addData(events.filter(_.event_id <= 2): _*)
    q.processAllAvailable()
    stream.addData(events.filter(_.event_id > 2): _*)
    q.processAllAvailable()
    val emitted = spark.table("sessions").as[Streams.Session].collect().toSet
    q.stop()
    // the first user-1 session closed when event 3 arrived past the gap
    assert(emitted.contains(Streams.Session(1L, 0L, 5 * min, 2L)))
  }

  test("stream-static enrichment joins each micro-batch against the dim snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("C1", "enterprise"), ("C2", "self-serve")).toDF("client", "segment")
    val stream = MemoryStream[(String, Long)]
    val q = Streams.enrich(stream.toDF().toDF("client", "total"), dim, "client")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    stream.addData(("C1", 100L), ("C2", 50L), ("C9", 7L))
    q.processAllAvailable()
    val got = spark.table("enriched")
      .select($"client", $"total", $"segment")
      .as[(String, Long, Option[String])].collect().toSet
    q.stop()
    assert(got == Set(("C1", 100L, Some("enterprise")),
      ("C2", 50L, Some("self-serve")), ("C9", 7L, None))) // left join keeps unmatched
  }

  test("stateless curation ops run unchanged on a document stream") {
    // maskDigits / tokenChunks / mixSample are narrow per-row transforms,
    // so the SAME operator code scrubs a live document feed — no batch
    // rewrite, no state store. (Par.fan passes streaming plans through.)
    import graft.operators.Curation
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val masked = Curation.mixSample(
        stream.toDF().toDF("doc_id", "text"), lit(1000L))
      .withColumn("text", Curation.maskDigits(col("text")))
    val chunks = Curation.tokenChunks(masked, chunkSize = 2, stride = 2)
    val q = chunks.writeStream.format("memory").queryName("cur_chunks")
      .outputMode("append").start()
    stream.addData(1L -> "call 42 now", 2L -> "a b c")
    q.processAllAvailable()
    val got = spark.table("cur_chunks")
      .as[(Long, Int, Long, String)].collect().toSet
    q.stop()
    assert(got == Set(
      (1L, 1, 2L, "call"), (1L, 3, 1L, "now"),   // "42" masked to "XX"
      (2L, 1, 2L, "a"), (2L, 3, 1L, "c")))
    assert(spark.table("cur_chunks").where($"doc_id" === 1 && $"chunk_start" === 1)
      .count() == 1)
  }

  test("watermark-bounded streaming dedup drops in-window duplicates, state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = stream.toDF().toDF("received_at", "payload_hash", "v")
    val q = Streams.dedupByHashBounded(df, delay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_bounded")
      .outputMode("append").start()
    def ts(min: Long) = new java.sql.Timestamp(3600_000L + min * 60000L)
    // batch 1: h1 twice within the window → one survivor
    stream.addData((ts(0), "h1", "a"), (ts(1), "h1", "a-dup"), (ts(2), "h2", "b"))
    q.processAllAvailable()
    // batch 2: advance event time far past the delay; h1's state has been
    // dropped, so a far-later replay of h1 passes through (bounded state,
    // the documented contract — late replays are reprocessing, not CDC)
    stream.addData((ts(120), "h3", "c"))
    q.processAllAvailable()
    stream.addData((ts(121), "h1", "a-replay"), (ts(121), "h3", "c-dup"))
    q.processAllAvailable()
    val got = spark.table("dedup_bounded").select($"payload_hash", $"v")
      .as[(String, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    q.stop()
    assert(got("h1") == Set("a", "a-replay")) // deduped in-window, replay passes
    assert(got("h2") == Set("b"))
    assert(got("h3") == Set("c")) // c-dup arrived within delay → suppressed
  }

  test("batch sessionization matches the windowed SQL twin on real events") {
    // same µs-grid truncation the query applies (DuckDB-parity contract)
    val typed = Tables.events(spark, sfTiny)
      .select($"user_id", $"event_id", (expr("ts DIV 1000") * 1000L).as("ts_ns"))
      .as[Streams.SessionEvent]
    val fromState = Streams.sessionizeBatch(typed)
      .select($"user_id", $"start_ns", $"end_ns", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    val fromWindows = SparkEntry.registry("st2_sessionization").fn(spark, sfTiny)
      .select($"user_id", $"start_ns", $"end_ns", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(fromState == fromWindows)
    assert(fromState.nonEmpty)
  }

  test("guarded stream twins leave none of the blocks they pinned in the block manager") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.streaming.StreamingQuery
    val tmp = Files.createTempDirectory("graft_pins").toString
    val store = new ParquetTableStore(spark, s"$tmp/state")
    val sc = spark.sparkContext
    val before = Blocks.rddIds(sc)
    // hold every RDD persisted while the twins run, so that the
    // ContextCleaner cannot drop a pin's blocks when its RDD happens to be
    // garbage-collected: only an explicit release removes them
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val holder = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        sc.getPersistentRDDs.values.foreach(held.add)
    }
    sc.addSparkListener(holder)
    // two waves, then a full replay on a new checkpoint (every batch the
    // guard empties)
    def waves(rows: DataFrame, key: Column, dir: String)(run: String => StreamingQuery): Unit = {
      rows.filter(key % 2 === 0).write.mode("append").parquet(dir)
      run(s"$dir.ckpt").awaitTermination(120000)
      rows.filter(key % 2 === 1).write.mode("append").parquet(dir)
      run(s"$dir.ckpt").awaitTermination(120000)
      run(s"$dir.ckpt2").awaitTermination(120000)
    }
    try {
      waves(Tables.embeddings(spark, sfTiny), $"vec_id", s"$tmp/emb")(
        Streams.pcaStream(spark, s"$tmp/emb", store, _))
      waves(Tables.lineitem(spark, sfTiny), $"l_orderkey", s"$tmp/li")(
        Streams.q1MartStream(spark, s"$tmp/li", store, _))
      waves(Tables.documents(spark, sfTiny), $"doc_id", s"$tmp/docs")(
        Streams.noveltyStream(spark, s"$tmp/docs", store, _))
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
    } finally sc.removeSparkListener(holder)
    assert(Seq("pca_stats", "q1_state", "novelty_scores").forall(store.exists),
      "a twin absorbed nothing: vacuous")
    assert(!held.isEmpty, "no pin was held: vacuous")
    val left = Blocks.rddIds(sc) -- before
    assert(left.isEmpty, s"RDD blocks left pinned: $left")
  }

  test("q1 mart stream: a batch whose step failed after its state writes, or that is re-delivered after its commit, applies once") {
    import graft.marts.TpchMart
    val li = Tables.lineitem(spark, sfTiny)
    val tmp = Files.createTempDirectory("graft_q1crash").toString
    val store = new ParquetTableStore(spark, s"$tmp/state")
    val (dir, ckpt) = (s"$tmp/arrivals", s"$tmp/ckpt")
    def run(): Long = {
      val q = Streams.q1MartStream(spark, dir, store, ckpt)
      q.awaitTermination(120000)
      q.recentProgress.map(_.numInputRows).sum
    }
    def rendered() = TpchMart.renderQ1(store.read("q1_state")).collect().map(_.toString).toSeq
    val one = TpchMart.renderQ1(TpchMart.q1Partials(li)).collect().map(_.toString).toSeq
    li.filter($"l_orderkey" % 2 === 0).write.mode("append").parquet(dir)
    run()
    // wave 2's step fails at its group commit, after staging q1_state and
    // q1_seen: a directory where the commit journal goes makes the
    // commit's journal read throw
    li.filter($"l_orderkey" % 2 === 1).write.mode("append").parquet(dir)
    val journal = Paths.get(tmp, "state", "_graft_commit_journal")
    Files.createDirectory(journal)
    intercept[StreamingQueryException](run())
    assert(Files.exists(Paths.get(tmp, "state", "q1_state__tmp")),
      "the step failed before its first state write")
    Files.delete(journal)
    // the same checkpoint re-delivers wave 2, which applies once
    assert(run() > 0, "wave 2 was not re-delivered")
    assert(rendered() == one, "the re-delivered wave was not applied exactly once")
    // a crash after the step's commit but before the batch was marked
    // done: without its commit-log entry the batch is re-delivered, and
    // the guard empties it
    val commits = Paths.get(ckpt, "commits")
    val last = Files.list(commits).iterator().asScala.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Files.delete(commits.resolve(last))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    assert(run() > 0, "the committed batch was not re-delivered")
    assert(rendered() == one, "a re-delivered batch was applied twice")
  }
}
