package graft

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextDedup, TextStats}

/** Dedup / similarity / text-analysis operators against their exact
  * baselines on sf0.001 (500 docs, 28 planted near-dup pairs).
  */
class PipelineOpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfTiny).cache()
  private lazy val emb = Tables.embeddings(spark, sfTiny).cache()

  test("jaccardPairs finds the planted near-dups and nothing spurious") {
    val pairs = TextDedup.jaccardPairs(docs, 3, 0.8).collect()
    assert(pairs.length == 28, s"expected 28 planted pairs, got ${pairs.length}")
    assert(pairs.forall(_.getLong(2) >= 800000L))
  }

  test("connected components: chains, triangles, and isolated pairs label by min id") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val got = TextDedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // a long chain still converges (diameter 9)
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val one = TextDedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(one.forall(_._2 == 1L) && one.length == 10)
  }

  test("LSH-verified cascade pairs equal the exact Jaccard baseline") {
    // the d10 pair stage: candidates from band collisions, exact verify.
    // Recall at the (64, 16x4) parameters is total on this corpus, and
    // verification is exact — so pairs AND scores must match d2's.
    val exact = TextDedup.jaccardPairs(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    val cascade = TextDedup.lshVerifiedPairs(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert(cascade == exact,
      s"cascade-only: ${cascade.diff(exact)}; exact-only: ${exact.diff(cascade)}")
    assert(exact.nonEmpty, "no planted pairs — vacuous test")
  }

  test("d10 cascade clusters equal d7 exact clusters") {
    val viaExact = TextDedup.connectedComponents(
        TextDedup.jaccardPairs(docs, 3, 0.8))
      .as[(Long, Long)].collect().toSet
    val viaLsh = TextDedup.connectedComponents(
        TextDedup.lshVerifiedPairs(docs, 3, 0.8))
      .as[(Long, Long)].collect().toSet
    assert(viaLsh == viaExact)
  }

  test("prefix-filtering pairs equal the exact Jaccard baseline (guaranteed recall)") {
    val exact = TextDedup.jaccardPairs(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    val prefix = TextDedup.prefixFilterPairs(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert(prefix == exact,
      s"prefix-only: ${prefix.diff(exact)}; exact-only: ${exact.diff(prefix)}")
    assert(exact.nonEmpty, "no planted pairs — vacuous test")
  }

  test("containment pairs equal the brute-force ordered-pair baseline") {
    val sh = TextDedup.shingleRows(docs, 3)
    val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val brute = sh.as("a").join(sh.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" =!= $"b.doc_id")
      .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .agg(count(lit(1)).as("c"))
      .join(cnt.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .filter($"c".cast("double") / $"n" >= 0.8)
      .select($"id_a", $"id_b",
        floor($"c".cast("double") * 1000000d / $"n".cast("double")).as("cont_micro"))
      .as[(Long, Long, Long)].collect().toSet
    val got = TextDedup.containmentPairs(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute,
      s"got-only: ${got.diff(brute)}; brute-only: ${brute.diff(got)}")
    assert(got.nonEmpty, "no containment pairs — vacuous test")
  }

  test("containment catches the excerpt case Jaccard misses, and is asymmetric") {
    val long = (1 to 120).map(i => s"w$i").mkString(" ")
    val excerpt = (40 to 55).map(i => s"w$i").mkString(" ")
    val two = Seq((1L, long), (2L, excerpt)).toDF("doc_id", "text")
    // excerpt ⊂ long: containment(2→1) = 1.0; the reverse direction and
    // Jaccard (14 shared / 118 union) both stay far below threshold
    val cont = TextDedup.containmentPairs(two, 3, 0.9)
      .as[(Long, Long, Long)].collect().toSeq
    assert(cont == Seq((2L, 1L, 1000000L)), s"got $cont")
    assert(TextDedup.jaccardPairs(two, 3, 0.5).isEmpty)
  }

  test("incremental containment pairs compose to the full ordered-pair set") {
    val old = docs.filter($"doc_id" % 2 === 0)
    val neu = docs.filter($"doc_id" % 2 === 1)
    val oldPairs = TextDedup.containmentPairs(old, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    val incr = TextDedup.containmentPairsIncremental(old, neu, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    val full = TextDedup.containmentPairs(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert((oldPairs ++ incr) == full,
      s"missing: ${full.diff(oldPairs ++ incr)}; extra: ${(oldPairs ++ incr).diff(full)}")
    assert(incr.nonEmpty, "no cross-batch containment — vacuous test")
  }

  test("incremental keep equals batch keep and retro-flips an old doc") {
    val a = (1 to 60).map(i => s"w$i").mkString(" ")
    val c = (1 to 100).map(i => s"w$i").mkString(" ")
    val old = Seq((1L, a), (4L, "z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    val neu = Seq((7L, c)).toDF("doc_id", "text")
    // before the batch, doc 1 is kept
    val before = TextDedup.containmentKeep(old, 3, 0.8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(before(1L) == 1L)
    // after: the new doc 7 contains doc 1 entirely and is larger —
    // merged decisions must equal from-scratch, doc 1 retro-flipped
    val incr = TextDedup.containmentKeepIncremental(old, neu, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    val batch = TextDedup.containmentKeep(old.unionByName(neu), 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert(incr == batch, s"incr-only: ${incr.diff(batch)}; batch-only: ${batch.diff(incr)}")
    assert(incr.exists(r => r._1 == 1L && r._3 == 0L), "doc 1 not retro-flipped")
    // and on the real corpus: incremental == batch across the even/odd split
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val realIncr = TextDedup.containmentKeepIncremental(even, odd, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    val realBatch = TextDedup.containmentKeep(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert(realIncr == realBatch)
  }

  test("containment keep: excerpt dropped, identical twins keep min id, isolated kept") {
    val long = (1 to 120).map(i => s"w$i").mkString(" ")
    val excerpt = (40 to 55).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, long), (2L, excerpt), (3L, long),
      (10L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text")
    val got = TextDedup.containmentKeep(corpus, 3, 0.8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // 1 and 3 are identical (mutual containment, equal size): min id 1
    // survives, 3 is contained-with-tie-to-1. The excerpt has two
    // larger containers. The isolated doc has none.
    assert(got == Map(1L -> (0L, 1L), 2L -> (2L, 0L),
      3L -> (1L, 0L), 10L -> (0L, 1L)), s"got $got")
  }

  test("bloom-prefiltered incremental dedup equals the plain anti-join, both paths exercised") {
    val even = docs.filter($"doc_id" % 2 === 0)
    // clone 10 even texts under fresh odd-side ids so the true-dup branch
    // is non-empty; undersized filter + loose fpp force false positives
    // through the verification anti-join as well
    val clones = even.orderBy($"doc_id").limit(10)
      .select(($"doc_id" + 100001L).as("doc_id"), $"text")
    val odd = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text").unionByName(clones)
    val got = TextDedup.incrementalExactDedup(even, odd,
        expectedItems = 50L, fpp = 0.3)
      .as[(String, Long, Long)].collect().toSet
    val expected = TextDedup.exactDedup(odd)
      .join(even.select(md5(TextDedup.normalizeText($"text")).as("content_hash"))
          .distinct(),
        Seq("content_hash"), "left_anti")
      .select($"content_hash", $"n_docs", $"canonical_id")
      .as[(String, Long, Long)].collect().toSet
    assert(got == expected,
      s"got-only: ${got.diff(expected)}; expected-only: ${expected.diff(got)}")
    assert(got.nonEmpty, "no new contents — vacuous test")
  }

  test("IVF index append: incremental build equals batch build, old index untouched") {
    import graft.operators.IvfIndex
    val old = emb.filter($"vec_id" % 2 === 0)
    val neu = emb.filter($"vec_id" % 2 === 1)
    val centroids = IvfIndex.fit(old, 8, 3) // trained once, frozen
    val incremental = IvfIndex.buildIndex(old, centroids)
      .unionByName(IvfIndex.buildIndex(neu, centroids)) // the append
    val batch = IvfIndex.buildIndex(emb, centroids)
    val q = emb.filter($"vec_id" < 5)
    val a = IvfIndex.ivfTopKIndexed(q, incremental, centroids, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    val b = IvfIndex.ivfTopKIndexed(q, batch, centroids, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("incremental prefix pairs compose to the full-batch pair set") {
    // old-batch pairs (found when those docs were new) ∪ incremental
    // pairs of the new batch == one-shot pairs over the whole corpus
    val old = docs.filter($"doc_id" % 2 === 0)
    val neu = docs.filter($"doc_id" % 2 === 1)
    val oldPairs = TextDedup.jaccardPairs(old, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    val incr = TextDedup.prefixFilterPairsIncremental(old, neu, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    val full = TextDedup.jaccardPairs(docs, 3, 0.8)
      .as[(Long, Long, Long)].collect().toSet
    assert((oldPairs ++ incr) == full,
      s"missing: ${full.diff(oldPairs ++ incr)}; extra: ${(oldPairs ++ incr).diff(full)}")
    assert(incr.nonEmpty, "no cross-batch pairs — vacuous test")
  }

  test("incremental clusters equal batch clusters over a multi-batch corpus") {
    // three arrival batches: labels evolve by contraction + delta CC only,
    // yet must equal a from-scratch CC over all pairs at every step
    val b0 = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1)
    val b2 = docs.filter($"doc_id" % 3 === 2)
    val l0 = TextDedup.connectedComponents(TextDedup.jaccardPairs(b0, 3, 0.8))
    val d1 = TextDedup.prefixFilterPairsIncremental(b0, b1, 3, 0.8)
    val l1 = TextDedup.ccIncremental(l0, d1)
    val c01 = b0.unionByName(b1)
    assert(l1.as[(Long, Long)].collect().toMap ==
      TextDedup.connectedComponents(TextDedup.jaccardPairs(c01, 3, 0.8))
        .as[(Long, Long)].collect().toMap,
      "after batch 1: incremental != batch")
    val d2 = TextDedup.prefixFilterPairsIncremental(c01, b2, 3, 0.8)
    val l2 = TextDedup.ccIncremental(l1, d2)
    val batch = TextDedup.connectedComponents(TextDedup.jaccardPairs(docs, 3, 0.8))
      .as[(Long, Long)].collect().toMap
    assert(l2.as[(Long, Long)].collect().toMap == batch,
      "after batch 2: incremental != batch")
    assert(batch.nonEmpty, "no clusters — vacuous test")
  }

  test("incremental clusters merge two existing clusters bridged by a new doc") {
    // adversarial shape for the contraction: prev labels hold two separate
    // components; one new edge pair bridges them through a new node, and
    // a second new node attaches to nothing
    val prev = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val delta = Seq((2L, 100L), (100L, 11L), (200L, 201L))
      .toDF("id_a", "id_b")
    val got = TextDedup.ccIncremental(prev, delta)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 100L -> 1L,
      200L -> 200L, 201L -> 200L))
  }

  test("large-star/small-star CC matches min-label propagation on the corpus") {
    val pairs = TextDedup.jaccardPairs(docs, 3, 0.8)
    val viaProp = TextDedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val viaStar = TextDedup.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaProp)
    assert(viaProp.nonEmpty, "no clusters — vacuous test")
  }

  test("large-star/small-star converges in O(log n) rounds on a 1000-node chain") {
    // min-label propagation needs O(diameter)=999 rounds here; the
    // alternating star algorithm must finish within the 50-round cap
    // (≈2·log² n) and label every node with the component min.
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = TextDedup.connectedComponentsStar(chain)
      .as[(Long, Long)].collect()
    assert(got.length == 1000 && got.forall(_._2 == 1L),
      s"bad labels: ${got.filter(_._2 != 1L).take(5).mkString(",")}")
  }

  test("duplicated spans: planted boilerplate is flagged, unique text is not") {
    val boiler = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val d = Seq(
      (1L, s"$boiler unique one tail tokens here now right"),
      (2L, s"$boiler other unique middle section goes here now"),
      (3L, "completely different words with no shared window at all x y z"),
      (4L, "three words only")) // < 8 tokens: no windows, absent
      .toDF("doc_id", "text")
    val got = TextDedup.duplicatedSpans(d, n = 8)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(4L), "sub-window doc must not appear")
    assert(got(3L)._3 == 0L && got(3L)._4 == 0L, "unique doc flagged")
    // docs 1 and 2 share exactly the boilerplate window (1 of 8 windows each)
    assert(got(1L)._2 == 8L && got(1L)._3 == 1L && got(1L)._4 == 125L, s"${got(1L)}")
    assert(got(2L)._3 == 1L)
    // within-doc repetition also counts as duplication
    val rep = Seq((9L, "a b c d e f g h a b c d e f g h")).toDF("doc_id", "text")
    val gotRep = TextDedup.duplicatedSpans(rep, n = 8)
      .as[(Long, Long, Long, Long)].collect().head
    assert(gotRep._3 >= 2L, s"self-repeated window not flagged: $gotRep")
  }

  test("incremental spans: a new batch retro-flags an old doc's unique span") {
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    val old = Seq(
      (1L, s"$boiler unique one tail tokens here now right"), // span unique in old
      (3L, "completely different words with no shared window at all x y z"))
      .toDF("doc_id", "text")
    val neu = Seq(
      (5L, s"$boiler arrives again with more trailing words here")) // re-mentions it
      .toDF("doc_id", "text")
    val prevPostings = TextDedup.spanPostings(old, n = 8)
    val prevFreq = prevPostings.groupBy($"g").agg(sum($"k").as("cnt"))
    val prevStats = TextDedup.duplicatedSpans(old, n = 8)
    // before: doc 1's boilerplate window is unique
    assert(prevStats.filter($"doc_id" === 1L).head().getLong(2) == 0L)
    val got = TextDedup.duplicatedSpansIncremental(
        prevPostings, prevFreq, prevStats, neu, n = 8)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // after: the old doc gained a dup window WITHOUT its stats being
    // recomputed from text, and the batch doc sees the merged counts
    assert(got(1L)._3 == 1L && got(1L)._4 == 125L, s"${got(1L)}")
    assert(got(5L)._3 == 1L)
    assert(got(3L)._3 == 0L)
    // and the composition equals one-shot over the union corpus
    val oneShot = TextDedup.duplicatedSpans(old.unionByName(neu), n = 8)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got == oneShot)
  }

  test("stored cluster state: served labels equal from-scratch, and the artifact is reused") {
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val prev = TextDedup.ensureClusters(spark, sfTiny, even, 3, 0.8, "spec_even")
    val stored = TextDedup.ccIncremental(prev,
        TextDedup.prefixFilterPairsIncremental(even, odd, 3, 0.8))
      .as[(Long, Long)].collect().toMap
    val scratch = TextDedup.incrementalClusters(even, odd, 3, 0.8)
      .as[(Long, Long)].collect().toMap
    assert(stored == scratch)
    // second call must serve the SAME artifact (no rebuild): the parquet
    // files' mtimes are untouched by a re-ensure
    val f = new java.io.File(prev.inputFiles.head.stripPrefix("file:"))
    val before = f.lastModified
    TextDedup.ensureClusters(spark, sfTiny, even, 3, 0.8, "spec_even").count()
    assert(f.lastModified == before, "artifact was rebuilt on second ensure")
  }

  test("span scrub: covered tokens die, survivors keep order, d14 agrees") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val boiler = "a1 a2 a3 a4 a5 a6 a7 a8" // the shared 8-token window
    val in = Seq(
      (1L, s"head1 head2 $boiler tail1 tail2"),
      (2L, s"$boiler other words entirely different here"),
      (3L, "no duplication in this document at all whatsoever truly"),
      (4L, "short doc")) // < 8 tokens: no windows, never scrubbed
      .toDF("doc_id", "text")
    val got = TextDedup.scrubDuplicatedSpans(in, n = 8)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // docs 1/2 share exactly one 8-window; only those 8 positions die
    assert(got(1L) == ((1L, 12L, 4L, md5hex("head1 head2 tail1 tail2"))))
    assert(got(2L) == ((2L, 13L, 5L, md5hex("other words entirely different here"))))
    assert(got(3L)._3 == 9L && got(3L)._4 == md5hex(
      "no duplication in this document at all whatsoever truly"))
    assert(got(4L) == ((4L, 2L, 2L, md5hex("short doc"))))
    // property on the real corpus: a doc loses tokens iff d14 flags it
    val scrub = TextDedup.scrubDuplicatedSpans(docs, n = 8)
      .select($"doc_id", ($"n_kept" < $"n_tokens").as("lost")).as[(Long, Boolean)]
      .collect().toMap
    val flagged = TextDedup.duplicatedSpans(docs, n = 8)
      .select($"doc_id", ($"n_dup_windows" > 0).as("dup")).as[(Long, Boolean)]
      .collect().toMap
    assert(scrub.forall { case (id, lost) => flagged.getOrElse(id, false) == lost })
  }

  test("semantic dedup served from stored state equals the inline closure") {
    // the sem1/e2e7 serving path (ensureSemanticClusters) must be
    // indistinguishable from the from-scratch operator — the ann4/ann5
    // stored == inline contract applied to the cluster state
    val served = Similarity.semanticDedupServed(spark, sfTiny, emb, minCos = 0.3)
      .as[(Long, Int, Long, Long)].collect().toSet
    val inline = Similarity.semanticDedup(emb, minCos = 0.3)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(served == inline && served.nonEmpty)
  }

  test("semantic dedup: keep rule + clusters match the exact within-cell pair path") {
    val got = Similarity.semanticDedup(emb, minCos = 0.3)
      .as[(Long, Int, Long, Long)].collect()
    assert(got.length == emb.count(), "every vector must be labeled")
    // exactly one kept per cluster, and it is the cluster's min id
    val byCluster = got.groupBy(_._3)
    assert(byCluster.forall { case (cid, ms) =>
      ms.count(_._4 == 1L) == 1 && ms.filter(_._4 == 1L).head._1 == cid &&
        cid == ms.map(_._1).min
    })
    // clusters equal CC over the exact all-pairs baseline RESTRICTED to
    // same-cell pairs (the cells are the only approximation SemDeDup makes)
    val cellOf = got.map(r => r._1 -> r._2).toMap
    val cellPairs = Similarity.cosineNearDupPairs(emb, minCos = 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => cellOf(a) == cellOf(b) }
    val expected = TextDedup.connectedComponents(
        cellPairs.toSeq.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got.forall { case (id, _, cid, _) => expected.getOrElse(id, id) == cid })
  }

  test("incremental semantic dedup equals one-shot under frozen cells") {
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 === 1)
    val got = Similarity.semanticDedupIncremental(even, odd, minCos = 0.3)
      .as[(Long, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.size == emb.count())
    // independent reference: assign EVERYTHING with the frozen (even-half)
    // centroids, then CC over the exact all-pairs baseline restricted to
    // same-cell pairs — no cellPairs/ccIncremental code shared
    val cellOf = Similarity.assignCells(emb, Similarity.labelCentroids(even))
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    val pairs = Similarity.cosineNearDupPairs(emb, minCos = 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => cellOf(a) == cellOf(b) }
    val expected = TextDedup.connectedComponents(pairs.toSeq.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got.forall { case (id, (_, cell, cid, kept)) =>
      cellOf(id) == cell && expected.getOrElse(id, id) == cid &&
        kept == (if (cid == id) 1L else 0L)
    })
    // and the batch genuinely changes OLD labels somewhere (a new vector
    // bridging / entering an existing cluster) — otherwise this test
    // wouldn't exercise the merge at all
    val prevOnly = Similarity.semanticDedup(even, minCos = 0.3)
      .as[(Long, Int, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got.exists { case (id, (_, _, cid, _)) =>
      prevOnly.get(id).exists(_ != cid) })
  }

  test("semantic retract equals a never-indexed build under frozen cells; unknown ids are a no-op") {
    val store = new graft.etl.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-sem-retract").toString)
    Similarity.buildSemanticState(store, emb, minCos = 0.3)
    val before = Similarity.servedClusters(store)
      .as[(Long, Int, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val gone = emb.filter($"vec_id" % 7 === 3).select($"vec_id")
    Similarity.semanticRetract(store, gone)
    // strongest form: the retracted state EQUALS a never-indexed build
    // over the remaining corpus under the SAME frozen cells, table by
    // table (cents untouched — aggregate statistics; strict-forget
    // would be a retrain)
    val cents = Similarity.readCents(store)
    val fullCents = Similarity.labelCentroids(emb)
    assert(cents.length == fullCents.length && cents.zip(fullCents).forall {
      case ((c1, v1), (c2, v2)) => c1 == c2 && v1.sameElements(v2)
    }, "frozen centroids must be untouched by retraction")
    val remaining = emb.join(gone, Seq("vec_id"), "left_anti")
    val refA = Similarity.assignCells(remaining, cents)
    val gotA = store.read("assigned").select($"vec_id", $"cell")
      .as[(Long, Int)].collect().toSet
    assert(gotA == refA.select($"vec_id", $"cell").as[(Long, Int)].collect().toSet
      && gotA.nonEmpty)
    val refPairs = Similarity.semanticPairs(refA, refA, minCos = 0.3)
      .as[(Long, Long)].collect().toSet
    val gotPairs = store.read("pairs").as[(Long, Long)].collect().toSet
    assert(gotPairs == refPairs && gotPairs.nonEmpty)
    val refLabels = TextDedup.connectedComponents(
        refPairs.toSeq.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val served = Similarity.servedClusters(store)
      .as[(Long, Int, Long, Long)].collect()
    assert(served.length == remaining.count())
    assert(served.forall { case (id, _, cid, kept) =>
      refLabels.getOrElse(id, id) == cid && kept == (if (cid == id) 1L else 0L)
    })
    // non-vacuous: at least one surviving row re-canonicalized (its
    // retracted min-id canonical handed the cluster to the next member)
    assert(served.exists { case (id, _, cid, _) =>
      before.get(id).exists(_ != cid) })
    // no retracted endpoint survives anywhere in the state
    val goneIds = gone.as[Long].collect().toSet
    assert(served.forall { case (id, _, cid, _) => !goneIds(id) && !goneIds(cid) })
    assert(gotPairs.forall { case (a, b) => !goneIds(a) && !goneIds(b) })
    // retracting ids the state never held is a no-op
    val snapshot = Similarity.servedClusters(store)
      .as[(Long, Int, Long, Long)].collect().toSet
    Similarity.semanticRetract(store,
      spark.range(900000, 900010).select($"id".as("vec_id")))
    assert(Similarity.servedClusters(store)
      .as[(Long, Int, Long, Long)].collect().toSet == snapshot)
  }

  test("exact Lloyd: layout-free trajectory, iterations move assignments off the seeds") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.operators.IvfIndex
    val cents = IvfIndex.fitExactLloyd(emb, 8, 3)
    assert(cents.length == 8 && cents.forall(_.forall(x => !x.isNaN)))
    // layout-free: an adversarial repartition trains the identical
    // trajectory (rounded argmin + decimal-mean updates — nothing
    // depends on partition order)
    val rep = IvfIndex.fitExactLloyd(emb.repartition(7), 8, 3)
    for (i <- 0 until 8)
      assert(cents(i).sameElements(rep(i)), s"centroid $i layout-dependent")
    // the iterations do real work: final assignment differs from the
    // assignment under the raw seeds (cl1's gate is not vacuous)
    val fin = IvfIndex.assignCellsExact(emb, cents)
      .as[(Long, Int)].collect().toMap
    val seeds = emb.orderBy($"vec_id").limit(8)
      .select($"embedding".cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    val under = IvfIndex.assignCellsExact(emb, seeds)
      .as[(Long, Int)].collect().toMap
    assert(fin.exists { case (id, c) => under(id) != c },
      "Lloyd iterations never moved an assignment")
    assert(fin.values.toSet.size > 1, "degenerate single-cell clustering")
  }

  test("semantic merge equals the one-shot build; incomparable quantizers rejected") {
    def tmpStore(p: String) = new graft.etl.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory(p).toString)
    // central train (order-exact decimal sums — layout-free), frozen
    // shard builds over disjoint halves: the distributed protocol
    val cents = Similarity.labelCentroids(emb)
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 === 1)
    val dst = tmpStore("graft-sem-merge-dst")
    val src = tmpStore("graft-sem-merge-src")
    Similarity.buildSemanticStateFrozen(dst, even, cents, minCos = 0.3)
    Similarity.buildSemanticStateFrozen(src, odd, cents, minCos = 0.3)
    // shard-local labels BEFORE the fold — the merge must change one
    val shardLabels = (Similarity.servedClusters(dst)
        .as[(Long, Int, Long, Long)].collect() ++
      Similarity.servedClusters(src)
        .as[(Long, Int, Long, Long)].collect()).map(r => r._1 -> r._3).toMap
    Similarity.semanticMerge(dst, src, minCos = 0.3)
    // strongest form: the merged state EQUALS a one-shot build over the
    // union, table by table (labelCentroids(emb) == the central cents)
    val ref = tmpStore("graft-sem-merge-ref")
    Similarity.buildSemanticState(ref, emb, minCos = 0.3)
    assert(dst.read("assigned").select($"vec_id", $"cell")
        .as[(Long, Int)].collect().toSet ==
      ref.read("assigned").select($"vec_id", $"cell")
        .as[(Long, Int)].collect().toSet)
    val gotPairs = dst.read("pairs").as[(Long, Long)].collect().toSet
    assert(gotPairs == ref.read("pairs").as[(Long, Long)].collect().toSet
      && gotPairs.nonEmpty)
    // non-vacuous: the fold contributed CROSS-shard pairs neither shard
    // could see, and at least one of them rewired a shard-local label
    assert(gotPairs.exists { case (a, b) => a % 2 != b % 2 })
    val served = Similarity.servedClusters(dst)
      .as[(Long, Int, Long, Long)].collect()
    assert(served.toSet == Similarity.servedClusters(ref)
      .as[(Long, Int, Long, Long)].collect().toSet)
    assert(served.exists { case (id, _, cid, _) =>
      shardLabels.get(id).exists(_ != cid) })
    // a quantizer trained on a different slice assigns different cells —
    // its pair semantics are incomparable; the fold must refuse
    val alien = tmpStore("graft-sem-merge-alien")
    Similarity.buildSemanticState(alien, even, minCos = 0.3)
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticMerge(dst, alien, minCos = 0.3)
    }
    assert(e.getMessage.contains("identical frozen quantizer"))
  }

  test("minhash LSH recovers every high-jaccard pair") {
    val exact = TextDedup.jaccardPairs(docs, 3, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = TextDedup.minhashPairs(docs, 3, 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // P(miss | j=0.9) = (1-0.9^4)^16 ≈ 4e-8 per pair — a miss is a bug
    assert(exact.subsetOf(approx),
      s"LSH missed ${exact.diff(approx)}")
  }

  test("b-bit minhash recovers every high-jaccard pair with 8x smaller sigs") {
    val exact = TextDedup.jaccardPairs(docs, 3, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bbit = TextDedup.bbitMinhashPairs(docs, 3, 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(bbit), s"b-bit LSH missed ${exact.diff(bbit)}")
    // the corrected estimate tracks the full-precision d3 estimate
    val full = TextDedup.minhashPairs(docs, 3, 0.7)
      .select($"id_a", $"id_b", $"est_micro").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val est = TextDedup.bbitMinhashPairs(docs, 3, 0.7)
      .select($"id_a", $"id_b", $"est_micro").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val both = full.keySet.intersect(est.keySet)
    assert(both.nonEmpty)
    both.foreach { k =>
      assert(math.abs(full(k) - est(k)) <= 100000L, // within 0.1 of each other
        s"pair $k: full=${full(k)} bbit=${est(k)}")
    }
  }

  test("simhash band join is exact for hamming <= 7") {
    val sig = TextDedup.simhash(docs).cache()
    val a = sig.as("a"); val b = sig.as("b")
    val brute = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
      .filter(col("h") <= 7)
      .as[(Long, Long, Int)].collect().toSet
    val banded = TextDedup.simhashPairs(docs, 7)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == brute, s"banded ${banded.size} != brute ${brute.size}")
    assert(brute.nonEmpty, "no simhash near-dups found — vacuous test")
  }

  test("brute-force topk matches a driver-side exact computation") {
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().map { case (id, v) => (id, v.map(_.toDouble)) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val expected = (for {
      (qid, qv) <- vecs.filter(_._1 < 5)
    } yield qid -> vecs.filter(_._1 != qid)
      .map { case (cid, cv) => (cid, cos(qv, cv)) }
      .sortBy { case (cid, c) => (-c, cid) }.take(3).map(_._1).toSeq).toMap
    val got = Similarity.bruteForceTopK(emb.filter($"vec_id" < 5), emb, 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)]
      .collect().groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSeq }
    assert(got.keySet == expected.keySet)
    got.foreach { case (q, ns) => assert(ns.toSet == expected(q).toSet,
      s"query $q: got $ns want ${expected(q)}") }
  }

  test("ivf topk: deterministic training, decent recall vs exact") {
    val exact = Similarity.bruteForceTopK(emb.filter($"vec_id" < 5), emb, 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def run() = graft.operators.IvfIndex.ivfTopK(emb.filter($"vec_id" < 5), emb, 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val a = run(); val b = run()
    assert(a == b, "IVF must be deterministic across runs")
    assert(a.nonEmpty)
    val recall = exact.intersect(a).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall $recall collapsed")
  }

  test("pq topk: codes are 4-bit x 8 and recall vs exact is high after re-rank") {
    import graft.operators.PqIndex
    val cb = PqIndex.train(emb)
    assert(cb.length == 8 && cb.forall(_.length == 16))
    val codes = PqIndex.encode(emb, cb)
    val maxCode = codes.agg(max($"code")).head().getInt(0)
    assert(maxCode >= 0, "codes must pack into a non-negative int")
    val queries = emb.filter($"vec_id" < 5)
    val got = PqIndex.pqTopK(queries, emb, k = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val exact = graft.operators.Similarity.bruteForceTopK(queries, emb, k = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"pq recall $recall < 0.8 (got=$got exact=$exact)")
  }

  test("ivfpq topk: probed-cell ADC shortlist still recalls most exact neighbors") {
    import graft.operators.PqIndex
    val queries = emb.filter($"vec_id" < 5)
    val got = PqIndex.ivfPqTopK(queries, emb, k = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val exact = graft.operators.Similarity.bruteForceTopK(queries, emb, k = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    // cell pruning (nprobe 4 of 16) stacks on PQ coarseness — bound looser
    assert(recall >= 0.6, s"ivfpq recall $recall < 0.6")
    assert(got.size == exact.size)
  }

  test("PQ index store: append-after-train equals batch build, queries match inline") {
    import graft.operators.{PqIndex, VectorIndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx").toString
    val old = emb.filter($"vec_id" % 2 === 0)
    val neu = emb.filter($"vec_id" % 2 === 1)
    // train + persist on the OLD corpus only, then append the new batch
    // with frozen codebooks
    VectorIndexStore.writePq(s"$dir/pq", old)
    VectorIndexStore.appendPq(spark, s"$dir/pq", neu)
    val cb = VectorIndexStore.readCodebooks(spark, s"$dir/pq/codebooks")
    // roundtrip: stored codebooks == retrained codebooks (deterministic)
    val fresh = PqIndex.train(old)
    assert(cb.map(_.map(_.toSeq).toSeq).toSeq == fresh.map(_.map(_.toSeq).toSeq).toSeq,
      "codebook parquet roundtrip drifted")
    // appended index == batch build with the same codebooks
    val appended = spark.read.parquet(s"$dir/pq/codes")
      .select($"vec_id", $"code", $"norm").as[(Long, Int, Double)].collect().toSet
    val batch = PqIndex.buildIndex(emb, cb)
      .select($"vec_id", $"code", $"norm").as[(Long, Int, Double)].collect().toSet
    assert(appended == batch, "append-encode drifted from batch encode")
    // stored-index query == inline query with the same codebooks
    val q = emb.filter($"vec_id" < 5)
    val viaStore = VectorIndexStore.pqTopK(spark, s"$dir/pq", q, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    val inline = PqIndex.pqTopKIndexed(q, PqIndex.buildIndex(emb, cb), cb, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaStore == inline && viaStore.nonEmpty)
    // compaction: append-accumulated code files rewrite to <= targetSplits,
    // stored-index query unchanged (atomic swap — content untouched)
    val filesBefore = spark.read.parquet(s"$dir/pq/codes").inputFiles.length
    VectorIndexStore.compactCodes(spark, s"$dir/pq", targetSplits = 1)
    val filesAfter = spark.read.parquet(s"$dir/pq/codes").inputFiles.length
    assert(filesAfter == 1 && filesAfter < filesBefore,
      s"compaction: $filesBefore -> $filesAfter")
    val viaCompacted = VectorIndexStore.pqTopK(spark, s"$dir/pq", q, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaCompacted == inline)
  }

  test("IVF index store: append-after-train equals batch build, queries match inline") {
    import graft.operators.{IvfIndex, VectorIndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    val old = emb.filter($"vec_id" % 2 === 0)
    val neu = emb.filter($"vec_id" % 2 === 1)
    // quantize + persist on the OLD corpus only, then append the new
    // batch with frozen centroids (ann3's serving path — exact
    // label-centroid cells since the round-10 hash-green graduation)
    VectorIndexStore.writeIvf(s"$dir/ivf", old)
    VectorIndexStore.appendIvf(spark, s"$dir/ivf", neu)
    val cents = VectorIndexStore.readCentroidsKeyed(spark, s"$dir/ivf/centroids")
    assert(cents.map { case (c, v) => (c, v.toSeq) }.toSeq ==
        IvfIndex.fitExact(old).map { case (c, v) => (c, v.toSeq) }.toSeq,
      "centroid parquet roundtrip drifted")
    val appended = spark.read.parquet(s"$dir/ivf/codes")
      .select($"neighbor_id", $"cell").as[(Long, Int)].collect().toSet
    val batch = IvfIndex.buildIndexExact(emb, cents)
      .select($"neighbor_id", $"cell").as[(Long, Int)].collect().toSet
    assert(appended == batch, "append-assign drifted from batch assign")
    // stored-index query == inline query with the same centroids
    val q = emb.filter($"vec_id" < 5)
    val viaStore = VectorIndexStore.ivfTopK(spark, s"$dir/ivf", q, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    val inline = IvfIndex.ivfTopKIndexedExact(q,
        IvfIndex.buildIndexExact(emb, cents), cents, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaStore == inline && viaStore.nonEmpty)
    // compaction: append-accumulated files rewrite CLUSTERED BY CELL
    // (each file covers few cells → nprobe filters prune row groups);
    // file count bounded, stored-index query unchanged. Two more daily
    // appends first so there are files to shrink (disjoint replay ids).
    VectorIndexStore.appendIvf(spark, s"$dir/ivf",
      neu.withColumn("vec_id", $"vec_id" + 1000000L))
    VectorIndexStore.appendIvf(spark, s"$dir/ivf",
      neu.withColumn("vec_id", $"vec_id" + 2000000L))
    val filesBefore = spark.read.parquet(s"$dir/ivf/codes").inputFiles.length
    val viaAugmented = VectorIndexStore.ivfTopK(spark, s"$dir/ivf", q, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    VectorIndexStore.compactCodes(spark, s"$dir/ivf", targetSplits = 2)
    val filesAfter = spark.read.parquet(s"$dir/ivf/codes").inputFiles.length
    assert(filesAfter <= 2 && filesAfter < filesBefore,
      s"compaction: $filesBefore -> $filesAfter")
    val viaCompacted = VectorIndexStore.ivfTopK(spark, s"$dir/ivf", q, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaCompacted == viaAugmented && viaCompacted.nonEmpty)
    // the rewrite really clustered: each written file covers a disjoint
    // contiguous cell range (max cell of one file < min cell of the next)
    val ranges = spark.read.parquet(s"$dir/ivf/codes")
      .select(input_file_name().as("f"), $"cell")
      .groupBy($"f").agg(min($"cell").as("lo"), max($"cell").as("hi"))
      .as[(String, Int, Int)].collect().sortBy(_._2)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._2, s"cell ranges overlap: $a vs $b")
      case _ => ()
    }
  }

  test("ANN index merge: frozen-artifact shards fold to the unsharded build; mismatches rejected") {
    import graft.operators.{IvfIndex, VectorIndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_annmrg").toString
    // central train ONCE; shards OVERLAP (evens ∪ evens-plus-odds) so
    // the id-dedup is exercised, unlike a clean disjoint split
    val cents = IvfIndex.fitExact(emb)
    VectorIndexStore.writeIvfFrozen(s"$dir/a", emb.filter($"vec_id" % 2 === 0), cents)
    VectorIndexStore.writeIvfFrozen(s"$dir/b",
      emb.filter($"vec_id" % 2 === 1 || $"vec_id" % 4 === 0), cents)
    VectorIndexStore.merge(spark, s"$dir/a", s"$dir/b")
    VectorIndexStore.writeIvf(s"$dir/full", emb)
    def codes(pp: String) = spark.read.parquet(s"$pp/codes")
      .select($"neighbor_id", $"cell").as[(Long, Int)].collect().toSet
    assert(codes(s"$dir/a") == codes(s"$dir/full"),
      "merged codes drifted from the unsharded build")
    val q = emb.filter($"vec_id" < 5)
    val got = VectorIndexStore.ivfTopK(spark, s"$dir/a", q, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    val exp = VectorIndexStore.ivfTopK(spark, s"$dir/full", q, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == exp && got.nonEmpty)
    // re-merge is a no-op (id-dedup), and the merged layout stays
    // cell-clustered: files cover disjoint contiguous cell ranges
    val nBefore = spark.read.parquet(s"$dir/a/codes").count()
    VectorIndexStore.merge(spark, s"$dir/a", s"$dir/b")
    assert(spark.read.parquet(s"$dir/a/codes").count() == nBefore)
    val ranges = spark.read.parquet(s"$dir/a/codes")
      .select(input_file_name().as("f"), $"cell")
      .groupBy($"f").agg(min($"cell").as("lo"), max($"cell").as("hi"))
      .as[(String, Int, Int)].collect().sortBy(_._2)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._2, s"cell ranges overlap: $a vs $b")
      case _ => ()
    }
    // artifact mismatch: a shard encoded under DIFFERENT centroids
    // (trained on half the corpus) must be rejected, store untouched
    VectorIndexStore.writeIvfFrozen(s"$dir/alien",
      emb.filter($"vec_id" % 2 === 1), IvfIndex.fitExact(emb.filter($"vec_id" % 2 === 0)))
    val e1 = intercept[IllegalArgumentException](
      VectorIndexStore.merge(spark, s"$dir/a", s"$dir/alien"))
    assert(e1.getMessage.contains("identical frozen centroids"))
    // flavor mismatch: a flat-PQ index cannot fold into an IVF one
    VectorIndexStore.writePq(s"$dir/pq", emb.filter($"vec_id" % 2 === 1))
    val e2 = intercept[IllegalArgumentException](
      VectorIndexStore.merge(spark, s"$dir/a", s"$dir/pq"))
    assert(e2.getMessage.contains("identical index flavors"))
    assert(spark.read.parquet(s"$dir/a/codes").count() == nBefore)
  }

  test("PQ/IVFPQ merged shards fold to the unsharded frozen build; serves agree") {
    import graft.operators.{IvfIndex, PqIndex, VectorIndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_pqmrg").toString
    val q = emb.filter($"vec_id" < 5)
    def codeSet(pp: String) = spark.read.parquet(s"$pp/codes")
      .select($"vec_id", $"code".cast("long")).as[(Long, Long)].collect().toSet
    def topk(f: => org.apache.spark.sql.DataFrame) =
      f.as[(Long, Long, Double)].collect().toSet
    // PQ leg: central codebooks, overlapping shards (id-dedup exercised)
    val cb = PqIndex.train(emb)
    VectorIndexStore.writePqFrozen(s"$dir/a", emb.filter($"vec_id" % 2 === 0), cb)
    VectorIndexStore.writePqFrozen(s"$dir/b",
      emb.filter($"vec_id" % 2 === 1 || $"vec_id" % 4 === 0), cb)
    VectorIndexStore.merge(spark, s"$dir/a", s"$dir/b")
    VectorIndexStore.writePqFrozen(s"$dir/full", emb, cb)
    assert(codeSet(s"$dir/a") == codeSet(s"$dir/full") &&
      codeSet(s"$dir/a").nonEmpty,
      "merged PQ codes drifted from the unsharded frozen build")
    assert(topk(VectorIndexStore.pqTopK(spark, s"$dir/a", q, k = 3)) ==
      topk(VectorIndexStore.pqTopK(spark, s"$dir/full", q, k = 3)))
    // IVFPQ leg: BOTH frozen artifacts central
    val cents = IvfIndex.fit(emb, 16)
    val rcb = PqIndex.trainResiduals(emb, cents)
    VectorIndexStore.writeIvfPqFrozen(s"$dir/ia",
      emb.filter($"vec_id" % 2 === 0), cents, rcb)
    VectorIndexStore.writeIvfPqFrozen(s"$dir/ib",
      emb.filter($"vec_id" % 2 === 1 || $"vec_id" % 4 === 0), cents, rcb)
    VectorIndexStore.merge(spark, s"$dir/ia", s"$dir/ib")
    VectorIndexStore.writeIvfPqFrozen(s"$dir/ifull", emb, cents, rcb)
    assert(codeSet(s"$dir/ia") == codeSet(s"$dir/ifull"),
      "merged IVFPQ codes drifted from the unsharded frozen build")
    assert(topk(VectorIndexStore.ivfPqTopK(spark, s"$dir/ia", q, k = 3)) ==
      topk(VectorIndexStore.ivfPqTopK(spark, s"$dir/ifull", q, k = 3)))
    // and the ensure caches serve the same answers as the explicit fold
    // (ann9/ann10's serving surface — built from the same shard split)
    val mp = VectorIndexStore.ensureMergedPq(sfTiny,
      Seq(emb.filter($"vec_id" % 2 === 0), emb.filter($"vec_id" % 2 === 1)))
    assert(topk(VectorIndexStore.pqTopK(spark, mp, q, k = 3)) ==
      topk(VectorIndexStore.pqTopK(spark, s"$dir/full", q, k = 3)))
  }

  test("ANN index retract: codes equal a frozen encode of the remaining corpus") {
    import graft.operators.{IvfIndex, VectorIndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_annret").toString
    val cents = IvfIndex.fitExact(emb)
    VectorIndexStore.writeIvfFrozen(s"$dir/ivf", emb, cents)
    VectorIndexStore.retract(spark, s"$dir/ivf",
      emb.filter($"vec_id" % 8 === 0).select($"vec_id"))
    VectorIndexStore.writeIvfFrozen(s"$dir/rest",
      emb.filter($"vec_id" % 8 =!= 0), cents)
    def codes(pp: String) = spark.read.parquet(s"$pp/codes")
      .select($"neighbor_id", $"cell").as[(Long, Int)].collect().toSet
    assert(codes(s"$dir/ivf") == codes(s"$dir/rest"))
    val q = emb.filter($"vec_id" < 5)
    val got = VectorIndexStore.ivfTopK(spark, s"$dir/ivf", q, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    val exp = VectorIndexStore.ivfTopK(spark, s"$dir/rest", q, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == exp && got.nonEmpty)
    assert(got.forall(_._2 % 8 != 0), "a retracted vector still ranks")
  }

  test("IVFPQ index store: append-after-train equals batch build, queries match inline") {
    import graft.operators.{IvfIndex, PqIndex, VectorIndexStore}
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpqidx").toString
    val old = emb.filter($"vec_id" % 2 === 0)
    val neu = emb.filter($"vec_id" % 2 === 1)
    VectorIndexStore.writeIvfPq(s"$dir/ivfpq", old)
    VectorIndexStore.appendIvfPq(spark, s"$dir/ivfpq", neu)
    val cents = VectorIndexStore.readCentroids(spark, s"$dir/ivfpq/centroids")
    val cb = VectorIndexStore.readCodebooks(spark, s"$dir/ivfpq/codebooks")
    assert(cents.map(_.toSeq).toSeq ==
      IvfIndex.fitExactLloyd(old, 16, iters = 5).map(_.toSeq).toSeq,
      "centroid parquet roundtrip drifted")
    val appended = spark.read.parquet(s"$dir/ivfpq/codes")
      .select($"vec_id", $"cell", $"code").as[(Long, Int, Int)].collect().toSet
    val batch = PqIndex.buildIvfPqIndex(emb, cents, cb)
      .select($"vec_id", $"cell", $"code").as[(Long, Int, Int)].collect().toSet
    assert(appended == batch, "append-encode drifted from batch encode")
    val q = emb.filter($"vec_id" < 5)
    val viaStore = VectorIndexStore.ivfPqTopK(spark, s"$dir/ivfpq", q, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    val inline = PqIndex.ivfPqTopKIndexed(q,
        PqIndex.buildIvfPqIndex(emb, cents, cb), cents, cb, k = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaStore == inline && viaStore.nonEmpty)
  }

  test("ANN recall floors at sf0.01: pinned numeric gates per approximate path") {
    // Every input here is deterministic — fixed LSH hyperplane seeds,
    // k-means seeded by lowest vec_ids, pinned nprobe/refine — so recall
    // is a REPRODUCIBLE number per corpus, and these are regression
    // gates, not statistical hopes. Measured on the round-6 corpus:
    // lsh 0.675, ivf 0.856, ivfpq 0.856, pq 0.994 — floors sit a margin
    // below so only a real regression (banding, nprobe, shortlist) trips
    // them, not an sf regeneration wiggle.
    val embS = Tables.embeddings(spark, "/root/testdata/sf0.01").cache()
    val q = embS.filter($"vec_id" < 16)
    val exact = graft.operators.Similarity.bruteForceTopK(q, embS, k = 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(got: Set[(Long, Long)]): Double =
      got.intersect(exact).size.toDouble / exact.size
    val rLsh = recallOf(graft.operators.Similarity.lshTopK(q, embS, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet)
    assert(rLsh >= 0.6, f"ann2 LSH recall@10 $rLsh%.3f < 0.6")
    // ann3's SERVING path (exact label-centroid cells, default nprobe 6
    // of the 10 label cells) — re-pinned at the graduation so the
    // hash-green quantizer swap can't silently trade recall away
    val exCents = graft.operators.IvfIndex.fitExact(embS)
    val rIvf = recallOf(graft.operators.IvfIndex.ivfTopKIndexedExact(q,
        graft.operators.IvfIndex.buildIndexExact(embS, exCents), exCents, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet)
    assert(rIvf >= 0.75, f"ann3 IVF recall@10 $rIvf%.3f < 0.75 (nprobe=6/10 label cells)")
    // the Lloyd trainer stays IVFPQ's coarse stage — keep its inline
    // top-k gated too (regression canary for `fit`)
    val rLloyd = recallOf(graft.operators.IvfIndex.ivfTopK(q, embS, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet)
    assert(rLloyd >= 0.75, f"Lloyd IVF recall@10 $rLloyd%.3f < 0.75 (nprobe=4/16)")
    val rIvfPq = recallOf(graft.operators.PqIndex.ivfPqTopK(q, embS, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet)
    assert(rIvfPq >= 0.75, f"ann5 IVFPQ recall@10 $rIvfPq%.3f < 0.75 (nprobe=4/16)")
    val rPq = recallOf(graft.operators.PqIndex.pqTopK(q, embS, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet)
    assert(rPq >= 0.9, f"ann4 PQ recall@10 $rPq%.3f < 0.9 (refine=32)")
    embS.unpersist()
  }

  test("residual codebooks reconstruct strictly better than raw PQ") {
    import graft.operators.{IvfIndex, PqIndex}
    val cents = IvfIndex.fit(emb, 16)
    val rawCb = PqIndex.train(emb)
    val resCb = PqIndex.trainResiduals(emb, cents)
    val sample = emb.orderBy($"vec_id").limit(300)
      .select($"embedding".cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)

    def nearestCent(x: Array[Double]): Array[Double] =
      cents.minBy(c => c.indices.map(i => { val t = x(i) - c(i); t * t }).sum)
    def decode(x: Array[Double], cb: Array[Array[Array[Double]]]): Array[Double] =
      (0 until 8).flatMap { m =>
        val sub = x.slice(m * 8, m * 8 + 8)
        cb(m).minBy(e => e.indices.map(i => { val t = sub(i) - e(i); t * t }).sum)
      }.toArray
    def sqErr(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => { val t = a(i) - b(i); t * t }).sum

    val rawErr = sample.map(x => sqErr(x, decode(x, rawCb))).sum
    val resErr = sample.map { x =>
      val c = nearestCent(x)
      val resid = Array.tabulate(x.length)(i => x(i) - c(i))
      val rec = decode(resid, resCb).zip(c).map { case (r, ci) => r + ci }
      sqErr(x, rec)
    }.sum
    assert(resErr < rawErr,
      s"residual reconstruction $resErr not better than raw PQ $rawErr")
  }

  test("lsh topk returns true cosines and decent recall") {
    val exact = Similarity.bruteForceTopK(emb.filter($"vec_id" < 5), emb, 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb.filter($"vec_id" < 5), emb, 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(approx.nonEmpty)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"LSH recall $recall collapsed")
  }

  test("salted join equals plain join and spreads the hot key") {
    val hot = (1 to 9000).map(i => (1L, s"row$i")) ++ (1 to 1000).map(i => ((i % 50) + 2L, s"cold$i"))
    val left = hot.toDF("k", "payload")
    val right = (1L to 60L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = left.join(right, "k")
    val salted = graft.operators.SkewJoin.saltedJoin(left, right, "k", "payload", salt = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
    // the hot key's rows really scatter over multiple salt buckets
    val buckets = left.filter($"k" === 1L)
      .select(pmod(xxhash64($"payload"), lit(8L)).as("s"))
      .distinct().count()
    assert(buckets == 8L)
  }

  test("z-order clustering bounds BOTH dimensions' per-partition spans") {
    import graft.operators.Layout
    // morton correctness against a bit-by-bit reference
    val rnd = new scala.util.Random(7L)
    (1 to 200).foreach { _ =>
      val a = rnd.nextInt(1 << 20).toLong; val b = rnd.nextInt(1 << 20).toLong
      val expect = (0 until 32).map { i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
      assert(Layout.morton(a, b) == expect)
    }

    // locality: z-ordered partitions cover tight rectangles in BOTH keys;
    // a row-major sort leaves the trailing key's span at full range
    val grid = spark.range(0, 1 << 14, 1, 8)
      .select(($"id" % 128).as("x"), ($"id" / 128).cast("long").as("y"))
    // AVG span is the pruning statistic (an unaligned z-range can straddle
    // a quadrant boundary, so the max span is occasionally wide)
    def avgSpan(df: org.apache.spark.sql.DataFrame, c: String): Double =
      df.withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
        .groupBy($"pid").agg((max(col(c)) - min(col(c))).as("span"))
        .agg(avg($"span")).head().getDouble(0)
    val zed = Layout.zorderBy(grid, $"x", $"y", 16).cache()
    val rowMajor = grid.repartitionByRange(16, $"y", $"x").cache()
    val (zx, zy) = (avgSpan(zed, "x"), avgSpan(zed, "y"))
    assert(zx <= 64 && zy <= 64, s"z avg spans: x=$zx y=$zy")
    assert(avgSpan(rowMajor, "x") > 100) // trailing key spans ~everything

    // Hilbert: same clustering through the continuous curve — no quadrant
    // jumps, so unaligned partition ranges cover tighter rectangles
    val hed = Layout.hilbertBy(grid, $"x", $"y", 16).cache()
    val (hx, hy) = (avgSpan(hed, "x"), avgSpan(hed, "y"))
    assert(hx <= 64 && hy <= 64, s"hilbert avg spans: x=$hx y=$hy")
    assert(hx + hy <= zx + zy, s"hilbert ($hx+$hy) did not tighten vs morton ($zx+$zy)")
  }

  test("hilbert index: inverse round-trip and curve adjacency") {
    import graft.operators.Layout
    // reference inverse (d2xy walk) — hilbert(x, y) must round-trip
    def d2xy(d: Long): (Long, Long) = {
      var t = d; var x = 0L; var y = 0L; var s = 1L
      while (s < (1L << 31)) {
        val rx = 1L & (t / 2)
        val ry = 1L & (t ^ rx)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx; y += s * ry
        t /= 4; s <<= 1
      }
      (x, y)
    }
    val rnd = new scala.util.Random(11L)
    (1 to 500).foreach { _ =>
      val d = rnd.nextLong() & ((1L << 62) - 1)
      val (x, y) = d2xy(d)
      assert(Layout.hilbert(x, y) == d, s"round-trip failed at d=$d")
      // defining property: consecutive indices are ADJACENT cells (Morton
      // violates this at every quadrant boundary)
      if (d < (1L << 62) - 1) {
        val (x2, y2) = d2xy(d + 1)
        assert(math.abs(x2 - x) + math.abs(y2 - y) == 1,
          s"curve jump between d=$d and ${d + 1}")
      }
    }
  }

  test("3D hilbert (Skilling): bijection, round-trip, adjacency over a full cube") {
    import graft.operators.Layout
    val bits = 4 // 16^3 = 4096 cells — exhaustive
    val n = 1L << (3 * bits)
    var prev: Array[Long] = null
    val seen = scala.collection.mutable.HashSet[(Long, Long, Long)]()
    (0L until n).foreach { d =>
      val x = Layout.hilbertNInverse(d, 3, bits)
      // inverse→forward round-trip
      assert(Layout.hilbertN(x.clone(), bits) == d, s"round-trip failed at d=$d")
      // bijection: every cell visited exactly once
      assert(seen.add((x(0), x(1), x(2))), s"cell revisited at d=$d")
      assert(x.forall(v => v >= 0 && v < (1L << bits)))
      // the Hilbert property: consecutive indices are grid-adjacent
      if (prev != null) {
        val l1 = (0 until 3).map(i => math.abs(x(i) - prev(i))).sum
        assert(l1 == 1, s"curve jump between ${d - 1} and $d")
      }
      prev = x
    }
    assert(seen.size == n.toInt)
    // expression surface evaluates the same function
    val df = Seq((3L, 5L, 7L)).toDF("a", "b", "c")
      .select(Layout.hilbert3Value($"a", $"b", $"c").as("h"))
    assert(df.head().getLong(0) == Layout.hilbert3(3L, 5L, 7L))
  }

  test("3-key clustering bounds all three dimensions' partition spans") {
    import graft.operators.Layout
    // 32x32x16 grid: row-major ordering would leave trailing keys at full span
    val grid = spark.range(0, 1 << 14, 1, 8).select(
      ($"id" % 32).as("x"),
      (($"id" / 32) % 32).cast("long").as("y"),
      ($"id" / 1024).cast("long").as("z"))
    def avgSpan(df: org.apache.spark.sql.DataFrame, c: String): Double =
      df.withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
        .groupBy($"pid").agg((max(col(c)) - min(col(c))).as("span"))
        .agg(avg($"span")).head().getDouble(0)
    val clustered = Layout.hilbert3By(grid, $"x", $"y", $"z", 16).cache()
    val (sx, sy, sz) = (avgSpan(clustered, "x"), avgSpan(clustered, "y"), avgSpan(clustered, "z"))
    // each partition holds 1024 of the 16384 cells → a ~10^3 box; every
    // axis span must stay near that box edge, where row-major ordering
    // would span the full 32 on both trailing keys
    assert(sx <= 16 && sy <= 16 && sz <= 16, s"3d spans: x=$sx y=$sy z=$sz")
  }

  test("greedy packing: valid (never overflows), deterministic, matches sequential reference") {
    import graft.operators.Packing
    val budget = 500L
    val toks = docs.select($"doc_id",
      graft.operators.TextStats.wsTokenCount($"text").cast("long").as("n_tokens"))
      .cache()
    // small seqsPerRange so the test exercises MANY range boundaries
    val packed = Packing.greedyPack(toks, budget, seqsPerRange = 4).cache()

    // every doc packed exactly once
    assert(packed.count() == toks.count())
    assert(packed.select($"doc_id").distinct().count() == toks.count())

    // validity: no sequence exceeds the budget unless it is one oversized doc
    val seqs = packed.groupBy($"seq_range", $"seq_in_range")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("seq_tokens"))
    assert(seqs.filter($"seq_tokens" > budget && $"n_docs" > 1).count() == 0)

    // determinism: a second evaluation is identical
    val again = Packing.greedyPack(toks, budget, seqsPerRange = 4)
      .collect().map(_.toString).toSet
    assert(packed.collect().map(_.toString).toSet == again)

    // exact equality with a single-threaded greedy walk per range
    val byRange = packed.orderBy($"doc_id")
      .select($"doc_id", $"n_tokens", $"seq_range", $"seq_in_range")
      .as[(Long, Long, Long, Long)].collect().groupBy(_._3)
    byRange.foreach { case (_, rows) =>
      var seq = 0L; var fill = 0L
      rows.sortBy(_._1).foreach { case (docId, n, _, gotSeq) =>
        if (fill > 0 && fill + n > budget) { seq += 1; fill = 0L }
        fill += n
        assert(gotSeq == seq, s"doc $docId: expected seq $seq, got $gotSeq")
      }
    }

    // packing quality: first-fit waste bound — and no worse than one extra
    // partially-filled sequence per range vs range-local optimum
    val totalTokens = toks.agg(sum($"n_tokens")).head().getLong(0)
    val nSeqs = seqs.count()
    assert(nSeqs <= 2 * ((totalTokens + budget - 1) / budget) + packed
      .select($"seq_range").distinct().count(),
      s"greedy produced $nSeqs sequences for $totalTokens tokens at budget $budget")
  }

  test("distributed cumSum equals the single-partition global window") {
    import graft.operators.GlobalOrder
    val df = spark.range(0, 5000, 1, 16)
      .select($"id", ($"id" % 97 + 1).as("v"))
    val distributed = GlobalOrder.cumSum(df, $"id", $"v")
      .select($"id", $"cum").as[(Long, Long)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy($"id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val global = df.withColumn("cum", sum($"v").over(w))
      .select($"id", $"cum").as[(Long, Long)].collect().toMap
    assert(distributed == global)
  }

  test("ivfpq recall does not degrade when probing every cell") {
    import graft.operators.PqIndex
    val queries = emb.filter($"vec_id" < 5)
    val exact = graft.operators.Similarity.bruteForceTopK(queries, emb, k = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int): Double = {
      val got = PqIndex.ivfPqTopK(queries, emb, k = 3, nprobe = nprobe)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val rAll = recall(16) // probe all cells == PQ-only shortlist
    val rFew = recall(2)
    assert(rAll >= rFew - 1e-9, s"probing all cells lost recall: $rAll < $rFew")
    assert(rAll >= 0.8, s"full-probe recall $rAll < 0.8")
  }

  test("vectorSum aggregate equals per-dimension scalar sums across partitions") {
    import graft.functions.VectorFunctions.vectorSum
    val df = spark.range(0, 1000, 1, 8) // 8 partitions forces partial+merge
      .select(($"id" % 4).as("g"),
        array(($"id" * 2).cast("double"), lit(1.0), (-$"id").cast("double")).as("v"))
    val got = df.groupBy($"g").agg(vectorSum($"v").as("s"))
      .as[(Long, Seq[Double])].collect().toMap
    (0L until 4L).foreach { g =>
      val ids = (0L until 1000L).filter(_ % 4 == g)
      assert(got(g) == Seq(ids.map(_ * 2.0).sum, ids.size.toDouble, ids.map(-_.toDouble).sum))
    }
  }

  test("salted count-distinct equals exact count-distinct") {
    val df = (1 to 5000).map(i => (s"g${i % 3}", s"v${i % 997}")).toDF("g", "v")
    val exact = df.groupBy($"g").agg(countDistinct($"v").as("n_distinct"))
    val salted = graft.operators.SkewJoin.saltedCountDistinct(df, "g", "v", salt = 8)
    assert(salted.exceptAll(exact).count() == 0 && exact.exceptAll(salted).count() == 0)
  }

  test("language id: CJK detection and stopword argmax with tie priority") {
    val df = Seq(
      (1L, "the cat and the hat is on a mat"),
      (2L, "el perro y la casa de un los"),
      (3L, "der hund und das ist nicht von"),
      (4L, "你好世界"),
      (5L, "xyzzy plugh")).toDF("doc_id", "text")
    val got = TextStats.languageId(df).select($"doc_id", $"pred_lang")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en"); assert(got(2L) == "es"); assert(got(3L) == "de")
    assert(got(4L) == "zh"); assert(got(5L) == "und")
  }

  test("quality metrics produce exact integer permille") {
    val df = Seq((1L, "The quick fox! On a log.")).toDF("doc_id", "text")
    val r = TextStats.qualityMetrics(df).head()
    assert(r.getAs[Long]("n_tokens") == 6L)
    // 24 chars, 2 punct → floor(2*1000/24) = 83
    assert(r.getAs[Long]("punct_permille") == 83L)
    // normalized tokens: the,quick,fox!,on,a,log. → stopwords the,on,a = 3/6
    assert(r.getAs[Long]("stop_permille") == 500L)
  }

  test("fingerprint is case/whitespace invariant") {
    val df = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val fps = TextStats.fingerprint(df).select($"doc_id", $"fingerprint")
      .as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L) && fps(1L) != fps(3L))
  }

  test("misra-gries heavy hitters: sketch+recount equals exact top-k across partitions") {
    import graft.operators.HeavyHitters
    // skewed stream: 2 hot tokens + a long singleton tail, spread over
    // 7 partitions so partial buffers actually merge
    val rows = Seq.fill(3000)("hot1") ++ Seq.fill(2000)("hot2") ++
      (0 until 5000).map(i => s"tail$i")
    val df = rows.toDF("token").repartition(7)
    val got = HeavyHitters.topK(df, "token", k = 2, capacity = 16)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("hot1", 3000L), ("hot2", 2000L)))
    // guarantee margin: hot2's 2000 > N/(capacity+1) = 10000/17
    assert(2000 > 10000 / 17)
  }

  test("misra-gries result is invariant to partition layout (merge order)") {
    import graft.operators.HeavyHitters
    val rows = Seq.fill(900)("hot1") ++ Seq.fill(600)("hot2") ++
      (0 until 1500).map(i => s"tail$i")
    val expected = Seq(("hot1", 900L), ("hot2", 600L))
    Seq(1, 3, 13).foreach { parts =>
      val got = HeavyHitters.topK(rows.toDF("token").repartition(parts),
        "token", k = 2, capacity = 16).as[(String, Long)].collect().toSeq
      assert(got == expected, s"partition layout $parts changed the answer: $got")
    }
  }

  test("intersect_size semantics on every edge: dups, null elements, null/empty arrays") {
    // `size(array_intersect(...))` below goes through the REWRITTEN path
    // (IntersectSizeRewrite fires in this session), so asserting it
    // against hand-computed expecteds pins the whole rewrite's semantics
    // — element dedup, null elements equal to each other, the legacy
    // -1-on-null-array contract — not just the raw expression's.
    val cases = Seq(
      "array('a','b','c'), array('b','c','d')" -> 2,
      "array('a','a','b'), array('a','a','a')" -> 1,      // dedup
      "array('a', NULL, 'b'), array(NULL, 'c')" -> 1,     // null elem both sides
      "array('a', NULL), array('b')" -> 0,                // null elem one side
      "array(), array('a')" -> 0,
      "CAST(NULL AS ARRAY<STRING>), array('a')" -> -1,    // legacy size(null) = -1
      "array(1, 2, 3), array(3, 4, 1)" -> 2)              // non-string elements
    cases.foreach { case (c, want) =>
      val got = spark.sql(s"SELECT size(array_intersect($c)) AS got").head().getInt(0)
      assert(got == want, s"rewritten size(array_intersect($c)) = $got, want $want")
    }
    // the raw function itself propagates a null ARRAY as null (non-legacy)
    assert(spark.sql(
      "SELECT graft_intersect_size(CAST(NULL AS ARRAY<STRING>), array('a'))").head().isNullAt(0))
    assert(spark.sql(
      "SELECT graft_intersect_size(array('a','b'), array('b'))").head().getInt(0) == 1)
  }

  test("intersect_size after a skewed row: small pairs on the same thread stay exact") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Literal, Size}
    import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
    import graft.functions.IntersectSize
    // the per-thread scratch table grows to fit the largest build side it
    // has seen; every later small row must still probe only the slots it
    // cleared. Reference sizes come from the interpreted ArrayIntersect.
    def check(t: DataType, a: Seq[Any], b: Seq[Any]): Unit = {
      val (la, lb) = (Literal.create(a, ArrayType(t)), Literal.create(b, ArrayType(t)))
      val want = Size(ArrayIntersect(la, lb), legacySizeOfNull = false).eval()
      assert(IntersectSize(la, lb).eval() == want, s"$t ${a.size}x${b.size}")
    }
    check(LongType, (0L until 200000L), (100000L until 300000L))
    check(StringType, (0 until 50000).map(i => s"s$i"), (25000 until 75000).map(i => s"s$i"))
    val rng = new scala.util.Random(11)
    (1 to 300).foreach { _ =>
      val (na, nb) = (rng.nextInt(40), rng.nextInt(40))
      val a = Seq.fill(na)(rng.nextInt(30).toLong)
      val b = Seq.fill(nb)(rng.nextInt(30).toLong)
      check(LongType, a, b)
      check(StringType, a.map(v => s"s$v"), b.map(v => s"s$v"))
    }
  }

  test("exclude_positions_join: array<string> tokens with array<bigint> positions only") {
    import graft.functions.TextSketches.excludePositionsJoin
    val words = split(lit("a b c d"), " ")
    assert(spark.range(1).select(excludePositionsJoin(words, array(lit(2L), lit(4L))))
      .head().getString(0) == "a c")
    // an int array would be read with getLong: it must fail at analysis
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(excludePositionsJoin(words, array(lit(2), lit(4))))
    }
    assert(e.getMessage.contains("array<bigint>"), e.getMessage)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(excludePositionsJoin(array(lit(1L)), array(lit(1L))))
    }
  }

  test("bpe merge step: argmax tie-break, non-overlapping rewrite, exact recount") {
    import graft.operators.Bpe
    // 'abab'×3: pairs ab=6(2 per word), ba=3; plus 'aaaa'×1: aa counts
    // non-overlapping? NO — pair COUNTING slides over every adjacent
    // position (aa appears 3× in 'aaaa'); only the REWRITE is
    // non-overlapping ('aaaa' → '§§', 'abab' → '§§').
    val docs = Seq(
      (1L, "abab abab abab aaaa")).toDF("doc_id", "text")
    val pc = Bpe.pairCounts(docs, 10).as[(String, Long)].collect().toList
    assert(pc.head == ("ab", 6L), s"got $pc")
    assert(pc.contains(("aa", 3L)) && pc.contains(("ba", 3L)))
    val ms = Bpe.mergeStep(docs, 10)
      .select($"merged_pair", $"merged_n", $"pair", $"n")
      .as[(String, Long, String, Long)].collect().toList
    // best pair 'ab' merges; each 'abab' → '§§', 'aaaa' untouched
    assert(ms.forall(r => r._1 == "ab" && r._2 == 6L))
    val post = ms.map(r => r._3 -> r._4).toMap
    assert(post == Map("§§" -> 3L, "aa" -> 3L), s"got $post")
  }

  test("bpe training loop: merge order, LTR non-overlapping pass, early stop, symbol aliasing") {
    import graft.operators.Bpe
    // hand-traced corpus: 'abab'×3 + 'aaaa'×2 (as two docs)
    //   step 1: ab=6 beats aa=6? aa appears 3×/word ×2 words = 6; ab = 2×3 = 6.
    //   TIE at 6 → lexicographic (l, r): (a,a) < (a,b) → merge (a,a) first.
    //   'aaaa' → [aa, aa]; 'abab' unchanged.
    //   step 2: ab=6 wins → 'abab' → [ab, ab].
    //   step 3: remaining pairs: (aa,aa)=2, (ab,ab)=3, (b,a)... gone
    //   ('abab' is now [ab, ab] so (b,a) no longer exists) → (ab,ab)=3.
    val docs = Seq((1L, "abab abab abab"), (2L, "aaaa aaaa")).toDF("doc_id", "text")
    val ms = Bpe.trainMergesList(docs, 3)
    assert(ms == Seq((1L, "a", "a", 6L), (2L, "a", "b", 6L), (3L, "ab", "ab", 3L)),
      s"got $ms")
    // the merge pass is LTR non-overlapping: aaa -> [aa, a], not [aa, aa]
    val pass = spark.range(1).select(
      Bpe.mergePass(typedLit(Seq("a", "a", "a")), lit("a"), lit("a")).as("s"))
      .head().getSeq[String](0)
    assert(pass == Seq("aa", "a"), s"got $pass")
    // early stop: a corpus that exhausts its pairs stops short of nMerges
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val short = Bpe.trainMergesList(tiny, 10)
    assert(short == Seq((1L, "a", "b", 2L)), s"got $short")
    // encode under the trained merges: token counts are exact
    val rows = Bpe.encodeFertility(docs, 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: 'abab' ×3 -> merges fold [a,b,a,b] -> [ab,ab] -> [abab]:
    //   1 token/word -> 3 tokens, fertility 1000
    // doc 2: 'aaaa' ×2 -> [aa, aa]: 2 tokens/word -> 4 tokens, 2000
    assert(rows == Map(1L -> ((3L, 3L, 1000L)), 2L -> ((2L, 4L, 2000L))), s"got $rows")
  }

  test("unigram greedy encode: hand-checked matches, bounds, fertility face vs bpe4") {
    import graft.operators.{Bpe, Unigram}
    // hand-checked greedy longest-match on a planted vocab: "abcab" →
    // greedy takes "abc" (longest at pos 1) then "ab" = 2 tokens — NOT
    // the 3-token [ab][c][ab] a shortest-first matcher would produce;
    // "xabcx" → [x][abc][x] = 3; "zzzzz" (no match) → 5 single chars
    val vocab = Seq("ab", "abc").toDF("piece")
    val got = Unigram.encodeVocab(
        Seq("abcab", "xabcx", "zzzzz", "ab").toDF("w"), vocab)
      .as[(String, Long)].collect().toMap
    assert(got == Map("abcab" -> 2L, "xabcx" -> 3L, "zzzzz" -> 5L, "ab" -> 1L),
      s"greedy scan drifted: $got")
    // on the real corpus: every word's count sits in [ceil(len/4), len]
    // (tokens are 1..4 chars and tile the word exactly)
    val docs = Tables.documents(spark, sfTiny)
    val words = docs
      .select(explode(split(graft.operators.TextDedup.normalizeText($"text"), " ")).as("w"))
      .filter(length($"w") >= 1).distinct()
    val enc = Unigram.encodeVocab(words, Unigram.pieceVocab(docs, 200))
      .as[(String, Long)].collect()
    assert(enc.nonEmpty && enc.forall { case (w, n) =>
      n <= w.length && n >= (w.length + Unigram.maxPieceLen - 1) / Unigram.maxPieceLen
    })
    assert(enc.exists { case (w, n) => n < w.length },
      "vocab pieces must actually fire somewhere")
    // the comparison face: per-source mean fertility under BOTH tokenizer
    // families, joined on source — every source present on both sides,
    // every fertility ≥ 1000 permille (≥ 1 token per word by construction)
    def bySource(f: org.apache.spark.sql.DataFrame) =
      docs.select($"doc_id", $"source").join(f, Seq("doc_id"))
        .groupBy($"source").agg(avg($"fertility_permille").as("fert"))
        .as[(String, Double)].collect().toMap
    val uni = bySource(Unigram.encodeFertility(docs, 200))
    val bpe = bySource(Bpe.encodeFertility(docs, 6))
    assert(uni.keySet == bpe.keySet && uni.nonEmpty)
    assert(uni.values.forall(_ >= 1000.0) && bpe.values.forall(_ >= 1000.0))
    // the 200-piece unigram vocab compresses harder than 6 BPE merges on
    // every source — the comparison the fertility face exists to expose
    assert(uni.keys.forall(s => uni(s) <= bpe(s)),
      s"unigram should out-compress 6-merge BPE: uni=$uni bpe=$bpe")
  }

  test("unigram hard-EM: usage pruning beats raw counts, never hurts a doc") {
    import graft.operators.Unigram
    // hand-checked E-step observation: greedy on "abcab" under {ab, abc}
    // consumes [abc]@1 then [ab]@4 — the fold must report exactly those
    // two pieces (and nothing for a word with no match)
    val vocab = Seq("ab", "abc").toDF("piece")
    val consumed = Unigram.consumedPieces(
        Seq("abcab", "zzzzz").toDF("w"), vocab)
      .as[(String, String)].collect().toSet
    assert(consumed == Set(("abcab", "abc"), ("abcab", "ab")), s"got $consumed")
    // hand-checked M-step divergence: in a corpus of only "abc", the
    // candidates ab/bc/abc tie on raw count (5 each), but the greedy scan
    // always takes the longer abc — so usage keeps abc and DROPS ab/bc.
    // Raw-count ranking could never make that call.
    val docs5 = Seq.tabulate(5)(i => (i.toLong, "abc")).toDF("doc_id", "text")
    val refined = Unigram.hardEmVocab(docs5, 10, 2)
      .as[(String, Long)].collect().toMap
    assert(refined == Map("abc" -> 5L), s"usage prune drifted: $refined")
    // on the real corpus: the usage-refined vocab never tokenizes any doc
    // WORSE than the raw-count vocab (greedy under a vocabulary the scan
    // actually uses), and strictly improves the corpus total — the
    // property the training face exists to deliver
    val docs = Tables.documents(spark, sfTiny)
    val base = Unigram.encodeFertility(docs, 200)
      .select($"doc_id", $"n_tokens".as("base_tokens"))
    val em = Unigram.hardEmFertility(docs, 400, 200)
      .select($"doc_id", $"n_tokens".as("em_tokens"))
    val both = base.join(em, Seq("doc_id"))
      .as[(Long, Long, Long)].collect()
    assert(both.nonEmpty && both.forall { case (_, b, e) => e <= b },
      "a doc tokenized worse under the refined vocab")
    assert(both.map(_._3).sum < both.map(_._2).sum,
      "hard-EM refinement should strictly improve the corpus total")
  }

  test("bpe encode: in-memory, chunked-distributed and nested-expr paths agree") {
    import graft.operators.Bpe
    val docs = Tables.documents(spark, sfTiny)
    val merges = Bpe.trainMergesAuto(docs, 25).map(m => (m._2, m._3))
    val words = docs
      .select(explode(split(graft.operators.TextDedup.normalizeText($"text"), " ")).as("w"))
      .filter(length($"w") >= 1).distinct()
    val viaExpr = Bpe.encodeVocab(words, merges)
      .as[(String, Long)].collect().toMap
    val viaMem = Bpe.encodeVocabInMemory(words.as[String].collect(), merges)
    val viaChunk = Bpe.encodeVocabChunked(words, merges, chunk = 7)
      .as[(String, Long)].collect().toMap
    assert(viaMem == viaExpr, s"first drift: ${
      viaMem.find { case (w, n) => viaExpr.get(w) != Some(n) }}")
    assert(viaChunk == viaExpr)
    assert(viaExpr.nonEmpty && viaExpr.values.exists(_ > 1))
  }

  test("bpe driver-bounded trainer == distributed loop, bound gates the fallback") {
    import graft.operators.Bpe
    // parity on the REAL corpus (not a toy): every merge decision and
    // every count must agree between the in-memory incremental trainer
    // and the per-merge-job distributed loop
    val docs = Tables.documents(spark, sfTiny)
    val dist = Bpe.trainMergesList(docs, 25)
    val mem = Bpe.trainMergesAuto(docs, 25) // vocab ≪ default bound → in-memory
    assert(mem == dist, s"first divergence: ${
      mem.zip(dist).find { case (a, b) => a != b }}")
    // an over-bound vocab must fall back to the distributed loop
    val fb = Bpe.trainMergesAuto(docs, 3, maxVocabRows = 1L)
    assert(fb == dist.take(3), s"got $fb")
  }

  test("bloom prune never drops a matching key and prunes most non-matches") {
    import graft.operators.RuntimeFilter
    val fact = spark.range(0, 20000).select($"id".as("k"))
    val dim = spark.range(0, 20000).filter($"id" % 100 === 0).select($"id".as("dk"))
    val pruned = RuntimeFilter.bloomPruneLong(fact, dim, "k", "dk",
      expectedKeys = 1000L, fpp = 0.01)
    val kept = pruned.as[Long].collect().toSet
    // zero false negatives: every true match survives the prune
    assert((0 until 20000 by 100).forall(k => kept.contains(k.toLong)))
    // the prune is selective: ~1% fpp on the 99% non-matching side
    assert(kept.size < 200 + 20000 / 20, s"bloom kept ${kept.size} of 20000")
    // an EMPTY dim side is a legitimate wave shape (zero candidates) and
    // must prune everything, not NPE inside stat.bloomFilter (found by
    // the splitServe scaling probe: a clean 40-doc batch with no dedup
    // candidates crashed the serve)
    val none = RuntimeFilter.bloomPruneLong(fact, dim.filter($"dk" < 0), "k", "dk",
      expectedKeys = 1000L, fpp = 0.01)
    assert(none.count() == 0L, "empty dim must yield the always-false filter")
  }

  test("s10 leakage-safe split: no near-dup pair straddles splits, all docs assigned") {
    val res = SparkEntry.registry("s10_cluster_safe_split").fn(spark, sfTiny)
      .as[(Long, Long, String)].collect()
    assert(res.length == docs.count(), "every doc gets a split")
    val splitOf = res.map { case (d, _, s) => d -> s }.toMap
    // the invariant s7 cannot give: every near-dup pair co-splits
    val pairs = graft.operators.TextDedup
      .jaccardPairs(docs, n = 3, minJaccard = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "vacuous: no near-dup pairs at sf0.001")
    pairs.foreach { case (a, b) =>
      assert(splitOf(a) == splitOf(b), s"pair ($a,$b) straddles ${splitOf(a)}/${splitOf(b)}")
    }
    // clusters are split units: one split value per cluster_id
    val byCluster = res.groupBy(_._2).values
    assert(byCluster.forall(_.map(_._3).toSet.size == 1))
    // and the split actually partitions (all three sides non-empty here)
    assert(res.map(_._3).toSet == Set("train", "val", "test"))
  }

  test("s13 on the gate corpus: resolution fires, no conflict survives, no straddle, idempotent") {
    import graft.operators.{Curation, TextDedup}
    // the registered s13 relation: documents ∪ synthetic concat bridges
    // at threshold 0.45 (clique families can't bridge at 0.8 — the
    // query plants chain structure so the vote machinery has real work)
    val res = SparkEntry.registry("s13_resolve_conflicts").fn(spark, sfTiny)
      .as[(Long, Long, String, Long)].collect()
    assert(res.exists(_._4 == 1L),
      "vacuous: the resolution branch moved nothing on the gate corpus")
    assert(!res.exists(_._3 == "conflict"), "a conflict survived resolution")
    val splitOf = res.map(r => r._1 -> r._3).toMap
    val base = docs.select($"doc_id", $"text")
    val bridges = base.as("a").join(base.as("b"),
        $"b.doc_id" === $"a.doc_id" + 2 && $"a.doc_id" % 20 === 2)
      .select(($"a.doc_id" + 100001L).as("doc_id"),
        concat($"a.text", lit(" "), $"b.text").as("text"))
    val all = base.unionByName(bridges)
    val pairs = TextDedup.jaccardPairs(all, n = 3, minJaccard = 0.45)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(splitOf(a) == splitOf(b),
        s"pair ($a,$b) straddles ${splitOf(a)}/${splitOf(b)} post-resolution") }
    // idempotent: resolving the resolved assignment changes nothing
    val resolvedSplits = res.toSeq.map(r => (r._1, r._3)).toDF("doc_id", "split")
    val clusters = res.toSeq.map(r => (r._1, r._2)).toDF("doc_id", "cluster_id")
    assert(Curation.resolveConflicts(resolvedSplits, clusters)
      .filter($"changed" === 1L).count() == 0L)
  }

  test("s11 planted: adopt unambiguous frozen split, hash fresh clusters, flag bridges as conflict") {
    import graft.operators.{Curation, TextDedup}
    // md5("2")=c8..→val  md5("4")=a8..→train  md5("6")=16..→train
    // md5("15")=9b..→train — cluster 2 and 4 freeze to DIFFERENT splits
    val t = (1 to 20).map(i => s"t$i").mkString(" ")   // shared 18-shingle core
    val u = (1 to 20).map(i => s"u$i").mkString(" ")
    val corpus = Seq(
      (2L, s"$t x1 x2 x3 x4"),   // J(2,4)=18/26 < 0.8: separate clusters
      (4L, s"$t y1 y2 y3 y4"),
      (6L, s"$u z1 z2 z3 z4")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (11L, t),                   // J=18/22 ≥ 0.8 with BOTH 2 and 4: bridge
      (13L, u),                   // near-dup of 6 only: adopt its split
      (15L, (1 to 20).map(i => s"v$i").mkString(" ")) // fresh cluster
    ).toDF("doc_id", "text")
    val prev = TextDedup.connectedComponents(
      TextDedup.prefixFilterPairs(corpus, 3, 0.8))
    val newLab = TextDedup.ccIncremental(prev,
      TextDedup.prefixFilterPairsIncremental(corpus, batch, 3, 0.8))
    val got = Curation.incrementalSplit(corpus.select($"doc_id"),
        batch.select($"doc_id"), prev, newLab)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set(
      (11L, 2L, "conflict"),   // bridges val-frozen 2 and train-frozen 4
      (13L, 6L, "train"),      // adopts cluster 6's frozen split
      (15L, 15L, "train")      // fresh label, hash-assigned
    ), s"got $got")
  }
}
