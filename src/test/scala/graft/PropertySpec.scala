package graft

import org.apache.spark.sql.functions._

import graft.etl.StagingMerge
import graft.functions.Parsers

/** Property-style tests (seeded generation, 100+ cases each): parser
  * totality, canonical-JSON/hash parity against an independent driver-side
  * reimplementation, and merge idempotence/convergence.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)

  test("toDecimal: total (never throws) and parses generated money formats") {
    val cases = (1 to 200).map { _ =>
      val cents = rnd.nextInt(1000000000)
      val whole = cents / 100
      val frac = f"${cents % 100}%02d"
      val neg = rnd.nextBoolean()
      val grouped = whole.toString.reverse.grouped(3).mkString(" ").reverse
      val style = rnd.nextInt(4) match {
        case 0 => s"$grouped,$frac"              // european
        case 1 => s"${grouped.replace(" ", ",")}.$frac" // us grouped
        case 2 => s"$$${whole}.$frac"            // currency
        case 3 => s"₽ $grouped,$frac"            // currency + nbsp-ish
      }
      val s = if (neg) s"($style)" else style
      val expect = BigDecimal(cents) / 100 * (if (neg) -1 else 1)
      (s, expect)
    } ++ Seq(("", null), ("xx,yy", null), ("--", null), (null, null))
    val df = cases.map(_._1).toDF("s").select(Parsers.toDecimal($"s").as("d"))
    val got = df.collect().map(r => Option(r.getDecimal(0)).map(BigDecimal(_)))
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(g == Option(want).filter(_ != null).map(_.asInstanceOf[BigDecimal]),
        s"toDecimal($in) = $g, want $want")
    }
  }

  test("canonicalJson/payloadHash parity with an independent reimplementation") {
    val alphabets = Array("abcdefg", "абвгдеж", "xyz 123", "key_", "Колонка ")
    def randKey(): String = {
      val a = alphabets(rnd.nextInt(alphabets.length))
      (1 to (1 + rnd.nextInt(8))).map(_ => a(rnd.nextInt(a.length))).mkString
    }
    val maps = (1 to 100).map { _ =>
      (1 to (1 + rnd.nextInt(6))).map(_ => randKey() -> randKey()).toMap
    }
    // independent driver-side canonicalization: code-point key sort,
    // compact separators, raw unicode (reference src/utils.py:14-19)
    def expectJson(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
        "\"" + esc(k) + "\":\"" + esc(v) + "\""
      }.mkString("{", ",", "}")
    def expectMd5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

    val got = maps.toDF("m")
      .select(Parsers.canonicalJson($"m").as("j"), Parsers.payloadHash($"m").as("h"))
      .collect()
    maps.zip(got).foreach { case (m, r) =>
      assert(r.getString(0) == expectJson(m), s"canonicalJson($m)")
      assert(r.getString(1) == expectMd5(expectJson(m)), s"payloadHash($m)")
    }
  }

  test("CanonicalJson and PyDefaultJson equal their boxed-sort, Formatter-escape formulation (ScalaCheck)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
    import org.apache.spark.sql.types.{MapType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop, Test}
    import graft.functions.{CanonicalJson, PyDefaultJson}

    // the kernel as first written: indices boxed through sortWith, escapes
    // through java.util.Formatter
    def reference(kvs: Seq[(String, String)], asciiOnly: Boolean, spaced: Boolean): String = {
      def esc(s: String): String = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\b' => "\\b"
        case '\t' => "\\t"
        case '\n' => "\\n"
        case '\f' => "\\f"
        case '\r' => "\\r"
        case c if c < ' ' || (asciiOnly && c > '~') => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      Array.range(0, kvs.size)
        .sortWith((a, b) => UTF8String.fromString(kvs(a)._1).compareTo(
          UTF8String.fromString(kvs(b)._1)) < 0)
        .map { i =>
          val (k, v) = kvs(i)
          "\"" + esc(k) + "\":" + (if (spaced) " " else "") +
            (if (v == null) "null" else "\"" + esc(v) + "\"")
        }.mkString("{", if (spaced) ", " else ",", "}")
    }
    val unit: Gen[String] = Gen.frequency(
      3 -> Gen.choose(' ', '~').map(_.toString),
      2 -> Gen.choose('\u0000', '\u001f').map(_.toString),
      1 -> Gen.oneOf("\"", "\\", "\u007f", "é", "ü"),
      3 -> Gen.choose('а', 'я').map(_.toString),
      1 -> Gen.oneOf("😀", "𝄞", "\ud83d\ude80"))
    val text: Gen[String] = Gen.choose(0, 6).flatMap(Gen.listOfN(_, unit)).map(_.mkString)
    // few prefixes, so keys share them (and now and then repeat)
    val key: Gen[String] = for (p <- Gen.oneOf("", "a", "ab", "Колонка", "😀"); t <- text) yield p + t
    val pairs: Gen[Seq[(String, String)]] = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.zip(key, Gen.frequency(9 -> text, 1 -> Gen.const(null: String)))))
    val input = BoundReference(0, MapType(StringType, StringType), nullable = false)
    val prop = Prop.forAll(pairs) { kvs =>
      val row = InternalRow(ArrayBasedMapData(
        kvs.map(kv => UTF8String.fromString(kv._1)).toArray[Any],
        kvs.map(kv => UTF8String.fromString(kv._2)).toArray[Any]))
      CanonicalJson(input).eval(row).toString == reference(kvs, asciiOnly = false, spaced = false) &&
        PyDefaultJson(input).eval(row).toString == reference(kvs, asciiOnly = true, spaced = true)
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000)
      .withInitialSeed(20261019L), prop)
    assert(result.passed, result.status.toString)
    // the empty map, also pinned to its literal output
    assert(CanonicalJson(input).eval(InternalRow(ArrayBasedMapData(Array.empty[Any],
      Array.empty[Any]))).toString == "{}")
  }

  test("merge: idempotent, convergent, and last-writer-wins") {
    val existing = (1 to 50).map(i => (s"k$i", java.sql.Timestamp.valueOf("2023-01-01 00:00:00"), s"old$i"))
      .toDF("raw_id", "received_at", "payload_hash")
    // updates touch half the keys, with duplicate in-batch rows at
    // different times — the newest must win
    val updates = (25 to 75).flatMap { i =>
      Seq((s"k$i", java.sql.Timestamp.valueOf("2023-02-01 00:00:00"), s"mid$i"),
        (s"k$i", java.sql.Timestamp.valueOf("2023-03-01 00:00:00"), s"new$i"))
    }.toDF("raw_id", "received_at", "payload_hash")

    val once = StagingMerge.merge(existing, updates).cache()
    assert(once.count() == 75)
    // newest in-batch row won
    val k30 = once.filter($"raw_id" === "k30").head()
    assert(k30.getAs[String]("payload_hash") == "new30")
    // untouched rows intact
    assert(once.filter($"raw_id" === "k1").head().getAs[String]("payload_hash") == "old1")
    // idempotence: re-applying the same batch changes nothing
    val twice = StagingMerge.merge(once, updates)
    assert(twice.exceptAll(once).count() == 0 && once.exceptAll(twice).count() == 0)
  }

  test("greedy packing properties hold on random workloads") {
    import graft.operators.Packing
    (1 to 5).foreach { trial =>
      val budget = 100L + rnd.nextInt(400)
      val n = 200 + rnd.nextInt(800)
      // skewed token sizes incl. oversized docs (> budget) and tiny ones
      val docs = (1 to n).map { i =>
        val t = rnd.nextInt(4) match {
          case 0 => 1L + rnd.nextInt(5)
          case 1 => 1L + rnd.nextInt(budget.toInt)
          case 2 => budget / 2 + rnd.nextInt(budget.toInt)
          case _ => 1L + rnd.nextInt(20)
        }
        (i.toLong, t)
      }
      val df = docs.toDF("doc_id", "n_tokens").repartition(7)
      val packed = Packing.greedyPack(df, budget, seqsPerRange = 3)
        .as[(Long, Long, Long, Long)].collect()
      // every doc exactly once, tokens preserved
      assert(packed.length == n, s"trial $trial: lost docs")
      assert(packed.map(_._1).toSet == docs.map(_._1).toSet)
      assert(packed.map(p => p._1 -> p._2).toMap == docs.toMap)
      // validity: no multi-doc sequence over budget
      packed.groupBy(p => (p._3, p._4)).foreach { case (seq, rows) =>
        val total = rows.map(_._2).sum
        assert(total <= budget || rows.length == 1,
          s"trial $trial: seq $seq overflows ($total > $budget, ${rows.length} docs)")
      }
      // sequences fill in doc_id order: ids within (range, seq) contiguous
      // under the range's sorted order
      packed.groupBy(_._3).foreach { case (_, rows) =>
        val byId = rows.sortBy(_._1)
        val seqIds = byId.map(_._4)
        assert(seqIds.zip(seqIds.tail).forall { case (a, b) => a <= b },
          s"trial $trial: seq ids not monotone over doc order")
      }
    }
  }

  test("deterministic shuffle: bijective positions, balanced contiguous shards") {
    import graft.operators.Packing
    (1 to 3).foreach { trial =>
      val n = 100 + rnd.nextInt(400)
      val shards = 1 + rnd.nextInt(12)
      val ids = (1 to n).map(i => (i * 7L + trial, s"payload $i"))
      val df = ids.toDF("doc_id", "text").repartition(5)
      val out = Packing.deterministicShuffle(df, "doc_id", s"seed$trial", shards)
        .as[(Long, Long, Long)].collect()
      // bijection onto 1..n
      assert(out.map(_._2).sorted.toSeq == (1L to n.toLong), s"trial $trial: pos not a permutation")
      assert(out.map(_._1).toSet == ids.map(_._1).toSet)
      // shards are contiguous chunks of the position order, sizes within 1
      val byShard = out.groupBy(_._3)
      assert(byShard.keySet == (0L until shards.toLong).toSet)
      val sizes = byShard.values.map(_.length).toSeq
      assert(sizes.max - sizes.min <= 1, s"trial $trial: shard skew $sizes")
      byShard.foreach { case (s, rows) =>
        val ps = rows.map(_._2).sorted
        assert(ps.last - ps.head == ps.length - 1, s"trial $trial: shard $s not contiguous")
      }
      // a different seed is a different permutation (overwhelming probability)
      val out2 = Packing.deterministicShuffle(df, "doc_id", s"other$trial", shards)
        .as[(Long, Long, Long)].collect()
      assert(out2.sortBy(_._1).map(_._2).toSeq != out.sortBy(_._1).map(_._2).toSeq)
      // and the same seed replays bit-identically
      val out3 = Packing.deterministicShuffle(df, "doc_id", s"seed$trial", shards)
        .as[(Long, Long, Long)].collect()
      assert(out3.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    }
  }

  test("curriculum interleave: stride schedule is proportional in every prefix") {
    import graft.operators.Curation
    val docs = (1 to 300).map { i =>
      val src = if (i % 10 == 0) "small" else if (i % 3 == 0) "mid" else "big"
      (i.toLong, src, s"text $i")
    }
    val df = docs.toDF("doc_id", "source", "text").repartition(5)
    val out = Curation.curriculumInterleave(df, "doc_id", "source", "s")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._5)
    assert(out.map(_._5).toSeq == (1L to docs.length.toLong), "pos not a permutation")
    // within-source ranks appear in order (the schedule never reorders a source)
    out.groupBy(_._2).foreach { case (src, rows) =>
      val ranks = rows.sortBy(_._5).map(_._3)
      assert(ranks.toSeq == (1L to ranks.length.toLong), s"$src ranks out of order")
    }
    // stride property: in every prefix, each source's emitted count stays
    // within 1 of its weight share of the prefix (bounded burstiness) —
    // the property round-robin hashing does NOT give
    val weights = out.groupBy(_._2).map { case (s, rows) =>
      s -> math.floor(math.sqrt(rows.length.toDouble) * 1000).toLong
    }
    val wTot = weights.values.sum.toDouble
    val totals = out.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var allLive = true
    out.zipWithIndex.foreach { case (row, idx) =>
      counts(row._2) += 1
      val k = idx + 1
      // once any source exhausts, the remaining schedule redistributes its
      // share — the proportionality claim only holds while all are live
      if (allLive) {
        weights.foreach { case (s, w) =>
          val expected = k * (w / wTot)
          assert(math.abs(counts(s) - expected) <= 2.0,
            s"prefix $k: source $s count ${counts(s)} vs share $expected")
        }
        if (counts(row._2) == totals(row._2)) allLive = false
      }
    }
    assert(!allLive, "vacuous: no source exhausted — enlarge the corpus skew")
  }

  test("rank filter plans a partial WindowGroupLimit below the exchange") {
    // the ANN shortlist pattern relies on Spark pruning the ranking
    // shuffle's input: row_number().over(w) + filter(rn <= k) must plan a
    // Partial-mode WindowGroupLimit UNDER the hash exchange so only
    // ≤ partitions·k rows per key are shuffled (this replaced the custom
    // bounded-heap pre-prune, which measured identical and broke codegen)
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 2000).map { i =>
      (i % 17L, i.toLong, (i % 37).toDouble / 4) }
      .toDF("query_id", "neighbor_id", "cos").repartition(9)
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    val ranked = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
    val p = ranked.queryExecution.executedPlan.toString
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    val partialIdx = p.indexOf("WindowGroupLimit", exchangeIdx)
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"no partial WindowGroupLimit below the exchange:\n$p")
    // and the result is still the exact top-k
    val got = ranked.select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val exact = (1 to 2000).map(i => (i % 17L, i.toLong, (i % 37).toDouble / 4))
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(3).map(r => (q, r._2))
      }.toSet
    assert(got == exact)
  }

  test("minhash banding pigeonhole: <= Bands-1 mismatches guarantees candidacy") {
    // deterministic recall-completeness at the pinned (NumHashes=64,
    // Bands=16x4) constants: a pair whose signatures differ in at most
    // Bands-1 = 15 components must fully agree on >= 1 band (each
    // mismatch kills at most one band), hence MUST collide in LSH. And
    // 49/64 agreement => est 0.7656 >= 0.7, so the filtered d3 surface
    // must contain it too.
    import graft.operators.TextDedup
    assert(TextDedup.NumHashes == 64 && TextDedup.Bands == 16)
    val docs = Tables.documents(spark, sfTiny)
    val sigs = TextDedup.minhashSignatures(docs, 3).cache()
    val collected = sigs.as[(Long, Seq[Long])].collect()
    val mustCollide = (for {
      (ia, sa) <- collected; (ib, sb) <- collected if ia < ib
      if sa.zip(sb).count { case (x, y) => x != y } <= TextDedup.Bands - 1
    } yield (ia, ib)).toSet
    assert(mustCollide.nonEmpty, "no near-identical signatures — vacuous test")
    val cands = TextDedup.lshCandidates(sigs)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(mustCollide.subsetOf(cands),
      s"banding missed ${mustCollide.diff(cands)}")
    val filtered = TextDedup.minhashPairs(docs, 3, 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(mustCollide.subsetOf(filtered),
      s"d3 surface missed ${mustCollide.diff(filtered)}")
  }

  test("b-bit banding pigeonhole: <= 15 byte mismatches guarantees candidacy") {
    // same argument over the packed byte signatures: 16 bands x 4 bytes,
    // each differing byte kills at most one band, so <= 15 differing
    // bytes leaves a fully-agreeing band. 49/64 agreeing bytes gives
    // corrected est (49/64 - 1/256)/(1 - 1/256) = 0.7648 >= 0.7, so the
    // filtered d6 surface must contain the pair.
    import graft.operators.{Par, TextDedup}
    import graft.functions.TextSketches
    val docs = Tables.documents(spark, sfTiny)
    val sigs = Par.fan(docs).select($"doc_id",
      TextSketches.bbitMinhashSig($"text", 3).as("sig"))
    val collected = sigs.as[(Long, Seq[Long])].collect()
    def bytes(packed: Seq[Long]): Array[Int] =
      Array.tabulate(64)(k => ((packed(k / 8) >>> (8 * (k % 8))) & 0xFF).toInt)
    val mustCollide = (for {
      (ia, sa) <- collected; (ib, sb) <- collected if ia < ib
      if bytes(sa).zip(bytes(sb)).count { case (x, y) => x != y } <= 15
    } yield (ia, ib)).toSet
    assert(mustCollide.nonEmpty, "no near-identical byte signatures — vacuous test")
    val filtered = TextDedup.bbitMinhashPairs(docs, 3, 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(mustCollide.subsetOf(filtered),
      s"d6 surface missed ${mustCollide.diff(filtered)}")
  }

  test("prefix filter equals exact Jaccard on random corpora (theorem check)") {
    // the classic prefix-filter bug is an off-by-one in
    // |s| - ceil(t*|s|) + 1; random small-vocab corpora force heavy
    // token overlap, so a too-short prefix WOULD drop qualifying pairs
    import graft.operators.TextDedup
    (1 to 3).foreach { trial =>
      val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
      val docs = (0L until 40L).map { id =>
        val n = 5 + rnd.nextInt(8)
        val words = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
        (id, words.mkString(" "))
      }.toDF("doc_id", "text")
      val t = Seq(0.5, 0.7, 0.8)(trial - 1)
      val exact = TextDedup.jaccardPairs(docs, 2, t)
        .as[(Long, Long, Long)].collect().toSet
      val prefix = TextDedup.prefixFilterPairs(docs, 2, t)
        .as[(Long, Long, Long)].collect().toSet
      assert(prefix == exact, s"trial $trial t=$t: " +
        s"missed ${exact.diff(prefix)}, extra ${prefix.diff(exact)}")
      // incremental composition on the same corpus
      val old = docs.filter($"doc_id" % 2 === 0)
      val neu = docs.filter($"doc_id" % 2 === 1)
      val oldPairs = TextDedup.jaccardPairs(old, 2, t)
        .as[(Long, Long, Long)].collect().toSet
      val incr = TextDedup.prefixFilterPairsIncremental(old, neu, 2, t)
        .as[(Long, Long, Long)].collect().toSet
      assert((oldPairs ++ incr) == exact, s"trial $trial t=$t incremental mismatch")
    }
  }

  test("connectedComponents equals driver-side union-find on random graphs") {
    import graft.operators.TextDedup
    (1 to 3).foreach { trial =>
      val nodes = 60 + rnd.nextInt(60)
      val pairs = (1 to nodes).map { _ =>
        val a = rnd.nextInt(nodes).toLong; val b = rnd.nextInt(nodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val got = TextDedup.connectedComponents(pairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      // reference union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(x => x -> find(x)).toMap
      assert(got == want, s"trial $trial: components diverge from union-find")
    }
  }

  test("ccIncremental equals batch CC on random graphs split into arrival batches") {
    import graft.operators.TextDedup
    (1 to 3).foreach { trial =>
      val nodes = 60 + rnd.nextInt(60)
      val pairs = (1 to 2 * nodes).map { _ =>
        val a = rnd.nextInt(nodes).toLong; val b = rnd.nextInt(nodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // batch split by edge, NOT by node: delta edges freely bridge,
      // re-enter, and extend existing clusters
      val (oldPairs, newPairs) = pairs.partition(_.hashCode() % 2 == 0)
      val prev = TextDedup.connectedComponents(oldPairs.toDF("id_a", "id_b"))
      val got = TextDedup.ccIncremental(prev, newPairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      val want = TextDedup.connectedComponents(pairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial: incremental diverges from batch CC")
      assert(newPairs.nonEmpty && oldPairs.nonEmpty, "degenerate split")
    }
  }

  test("large-star/small-star equals min-label propagation on random graphs") {
    import graft.operators.TextDedup
    (1 to 3).foreach { trial =>
      val nodes = 60 + rnd.nextInt(60)
      val pairs = (1 to nodes).map { _ =>
        val a = rnd.nextInt(nodes).toLong; val b = rnd.nextInt(nodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val viaStar = TextDedup.connectedComponentsStar(pairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      val viaProp = TextDedup.connectedComponents(pairs.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(viaStar == viaProp, s"trial $trial: star CC diverges")
    }
  }

  test("star fallback: non-converged min-label hands off to star exactly") {
    import graft.operators.TextDedup
    // deep chain (diameter 999): min-label alone needs 999 rounds and the
    // old maxIter=20 cap silently returned UNCONVERGED labels; the
    // starAfter fallback must finish it exactly in O(log² n) star rounds
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = TextDedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(got.length == 1000 && got.forall(_._2 == 1L),
      "chain components not labeled by the global min after star fallback")
    // random graphs: forcing the fallback on round 1 (mid-propagation
    // contraction, the hardest handoff state) == fully converged labels
    (1 to 3).foreach { trial =>
      val nodes = 60 + rnd.nextInt(60)
      val pairs = (1 to nodes).map { _ =>
        val a = rnd.nextInt(nodes).toLong; val b = rnd.nextInt(nodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val forced = TextDedup.connectedComponents(
          pairs.toDF("id_a", "id_b"), starAfter = 1)
        .as[(Long, Long)].collect().toMap
      val full = TextDedup.connectedComponents(
          pairs.toDF("id_a", "id_b"), starAfter = 1000)
        .as[(Long, Long)].collect().toMap
      assert(forced == full, s"trial $trial: star fallback diverges")
    }
  }

  test("graft_dot is registered in SQL via session extensions") {
    val r = spark.sql("SELECT graft_dot(array(1.0, 2.0, 3.0), array(4.0, 5.0, 6.0)) AS d")
      .head().getDouble(0)
    assert(r == 32.0)
  }

  test("every native expression is SQL-callable via session extensions") {
    val row = spark.sql("""SELECT
        graft_canonical_json(map('b', '2', 'a', '1')) AS cj,
        graft_py_json(map('Тип', 'Расход')) AS pj,
        graft_normalize_keys(map('Total RUB', '1')) AS nk,
        CAST(graft_parse_money('₽ 1 234,56') AS STRING) AS pm,
        CAST(graft_parse_timestamp('16.07.2023') AS STRING) AS pt,
        graft_simhash('hello world') AS sh,
        size(graft_shingles('a b c d', 3)) AS nsh,
        size(graft_minhash('a b c d', 3)) AS nmh,
        size(graft_bbit_minhash('a b c d', 3)) AS nbb
      """).head()
    assert(row.getString(0) == """{"a":"1","b":"2"}""")
    // ensure_ascii flavor: non-ASCII escaped as \uXXXX like CPython
    assert(row.getString(1) ==
      "{\"\\u0422\\u0438\\u043f\": \"\\u0420\\u0430\\u0441\\u0445\\u043e\\u0434\"}")
    assert(row.getMap[String, String](2).contains("totalrub"))
    assert(row.getString(3) == "1234.5600000000")
    assert(row.getString(4) == "2023-07-16 00:00:00")
    assert(row.getLong(5) != 0L)
    assert(row.getInt(6) == 2 && row.getInt(7) == 64 && row.getInt(8) == 8)
  }

  // random corpus generator shared by the TextQuality parity properties:
  // small vocab (forces trigram collisions), lengths 0-14 incl. <3-word
  // docs that must drop out of LM scoring
  private def randomCorpus(nDocs: Int): Seq[(Long, String)] = {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    (1 to nDocs).map { i =>
      val len = rnd.nextInt(15)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
  }

  test("lm score equals a driver-side reimplementation on random corpora") {
    import graft.operators.TextQuality
    for (_ <- 1 to 4) {
      val corpus = randomCorpus(60)
      // brute force — independent of the Spark path, same op sequence
      val words = corpus.map { case (id, t) => id -> t.split(" ", -1) }
      val tris = words.flatMap { case (id, w) =>
        if (w.length < 3) Nil
        else (0 to w.length - 3).map(i =>
          (id, s"${w(i)} ${w(i + 1)} ${w(i + 2)}", s"${w(i)} ${w(i + 1)}"))
      }
      val c3 = tris.groupBy(_._2).view.mapValues(_.size).toMap
      val c2 = tris.groupBy(_._3).view.mapValues(_.size).toMap
      val v = words.flatMap(_._2).distinct.size
      val expect = tris.groupBy(_._1).map { case (id, ts) =>
        val s6 = ts.map { case (_, tri, ctx) =>
          BigDecimal(math.log((c2(ctx) + v).toDouble / (c3(tri) + 1).toDouble))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        id -> (ts.size.toLong, (s6 * 1000000).toLongExact / ts.size)
      }
      val got = TextQuality.lmScore(corpus.toDF("doc_id", "text"))
        .as[(Long, Long, Long)].collect()
        .map { case (id, n, m) => id -> (n, m) }.toMap
      assert(got == expect)
    }
  }

  test("bm25 equals a driver-side reimplementation on random corpora") {
    import graft.operators.TextQuality
    for (_ <- 1 to 4) {
      val corpus = randomCorpus(50)
      val terms = Seq("aa", "dd")
      val words = corpus.map { case (id, t) => id -> t.split(" ", -1) }
      val n = corpus.size
      val sumDl = words.map(_._2.length.toLong).sum
      val avgdl = sumDl.toDouble / n.toDouble
      val tf = words.flatMap { case (id, w) =>
        terms.map(t => (id, t, w.count(_ == t), w.length.toLong))
      }.filter(_._3 > 0)
      val df = tf.groupBy(_._2).view.mapValues(_.size).toMap
      val expect = tf.groupBy(_._1).map { case (id, rows) =>
        val s6 = rows.map { case (_, t, f, dl) =>
          val idf = math.log(1.0 + ((n - df(t)).toDouble + 0.5) / (df(t).toDouble + 0.5))
          val sc = idf * ((f.toDouble * 2.2) /
            (f.toDouble + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl))))
          BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        (id, rows.size.toLong, s6.toDouble)
      }.toSeq.sortBy(r => (-r._3, r._1)).take(10)
      val got = TextQuality.bm25(corpus.toDF("doc_id", "text"), terms, k = 10)
        .as[(Long, Long, Double)].collect().toSeq
      assert(got == expect)
    }
  }

  test("ks drift equals a driver-side reimplementation on random corpora") {
    import graft.operators.TextQuality
    for (_ <- 1 to 4) {
      val rows = (1 to 120).map { _ =>
        (s"s${rnd.nextInt(4)}", (5 + rnd.nextInt(8)).toLong)
      }
      val all = rows.map(_._2).distinct.sorted
      val nTot = rows.size.toLong
      val expect = rows.groupBy(_._1).map { case (src, rs) =>
        val nS = rs.size.toLong
        val m = all.map { x =>
          val cumS = rs.count(_._2 <= x).toLong
          val cumAll = rows.count(_._2 <= x).toLong
          math.abs(cumS * nTot - cumAll * nS)
        }.max
        src -> m * 1000000L / (nS * nTot)
      }
      val got = TextQuality.ksDrift(rows.toDF("source", "n_chars"))
        .as[(String, Long)].collect().toMap
      assert(got == expect)
    }
  }
}
