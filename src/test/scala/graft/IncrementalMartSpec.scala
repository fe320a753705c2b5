package graft

import org.apache.spark.sql.functions._

import graft.etl.{Normalize, StagingMerge}
import graft.marts.{IncrementalMart, Views}

/** Incremental mart maintenance == full recompute, on the real normalize
  * output with a real upsert batch (edits + inserts).
  */
class IncrementalMartSpec extends SparkTestBase {
  import spark.implicits._

  private def stagingOf(df: org.apache.spark.sql.DataFrame) =
    Normalize.toStaging(Normalize(df))

  test("applyDelta over an upsert batch equals full recompute") {
    val raw = graft.queries.EndToEndQueries.ordersAsRawProbe(spark, sfTiny)
    val staging = stagingOf(raw).cache()
    val mart0 = IncrementalMart.initialize(staging).cache()

    // baseline equals the view on the same snapshot
    val viaView0 = Views.financialsV(staging).drop("last_updated")
      .collect().map(_.toString).toSet
    assert(IncrementalMart.present(mart0).collect().map(_.toString).toSet == viaView0)

    // upsert batch: double the amount on ~1/7th of rows (edits) and remap
    // 1/11th of ids to new keys (inserts); newest received_at wins
    val edits = staging.filter($"raw_id".cast("long") % 7 === 0)
      .withColumn("total_rub", $"total_rub" * 2)
      .withColumn("received_at", $"received_at" + expr("interval 1 day"))
    val inserts = staging.filter($"raw_id".cast("long") % 11 === 0)
      .withColumn("raw_id", concat(lit("new_"), $"raw_id"))
      .withColumn("received_at", $"received_at" + expr("interval 1 day"))
    val batch = edits.unionByName(inserts)

    // the replaced old versions: existing rows whose key is in the batch
    val oldRows = staging.join(batch.select($"raw_id"), Seq("raw_id"), "left_semi")
    val merged = StagingMerge.merge(staging, batch).cache()

    val incremental = IncrementalMart.present(
      IncrementalMart.applyDelta(mart0, oldRows, batch))
      .collect().map(_.toString).toSet
    val full = IncrementalMart.present(IncrementalMart.initialize(merged))
      .collect().map(_.toString).toSet
    val viaView = Views.financialsV(merged).drop("last_updated")
      .collect().map(_.toString).toSet

    assert(incremental == full)
    assert(incremental == viaView)
    assert(incremental != viaView0) // the batch actually changed the mart

    // same delta machinery for the category mart (one-key abelian shape)
    val cat0 = IncrementalMart.initializeCategories(staging)
    val catIncr = IncrementalMart.presentCategories(
      IncrementalMart.applyCategoryDelta(cat0, oldRows, batch))
      .collect().map(_.toString).toSet
    val catView = Views.expensesByCategoryV(merged).drop("last_updated")
      .collect().map(_.toString).toSet
    assert(catIncr == catView)
  }

  test("ref-counted dim states: delta application equals the dim views on the merged snapshot") {
    import graft.marts.IncrementalDims
    val raw = graft.queries.EndToEndQueries.ordersAsRawProbe(spark, sfTiny)
    val staging = stagingOf(raw).cache()

    // initialize == view on the same snapshot
    assert(IncrementalDims.presentClients(IncrementalDims.initializeClients(staging))
      .collect().map(_.toString).toSet ==
      Views.dimClientsV(staging).collect().map(_.toString).toSet)

    // upsert batch that MOVES dimension values: some rows change client /
    // category / vendor (the old name's refcount drops — it must vanish
    // only when its last referencing row left), plus fresh inserts
    val edits = staging.filter($"raw_id".cast("long") % 5 === 0)
      .withColumn("client", concat(lit("moved_"), $"client"))
      .withColumn("category", lit("MovedCat"))
      .withColumn("vendor", when($"vendor".isNotNull, concat(lit("mv_"), $"vendor")))
      .withColumn("received_at", $"received_at" + expr("interval 1 day"))
    val inserts = staging.filter($"raw_id".cast("long") % 13 === 0)
      .withColumn("raw_id", concat(lit("new_"), $"raw_id"))
      .withColumn("received_at", $"received_at" + expr("interval 1 day"))
    val batch = StagingMerge.dedupeBatch(edits.unionByName(inserts))

    val oldRows = staging.join(batch.select($"raw_id"), Seq("raw_id"), "left_semi")
    val merged = StagingMerge.merge(staging, batch).cache()

    val clientsIncr = IncrementalDims.presentClients(
      IncrementalDims.applyClientsDelta(
        IncrementalDims.initializeClients(staging), oldRows, batch))
      .collect().map(_.toString).toSet
    val clientsView = Views.dimClientsV(merged).collect().map(_.toString).toSet
    assert(clientsIncr == clientsView)

    Seq("category" -> Views.dimCategoriesV _, "vendor" -> Views.dimVendorsV _)
      .foreach { case (src, view) =>
        val incr = IncrementalDims.presentNames(
          IncrementalDims.applyNamesDelta(
            IncrementalDims.initializeNames(staging, src), oldRows, batch, src))
          .collect().map(_.getString(0)).toSet
        val full = view(merged).collect().map(_.getString(0)).toSet
        assert(incr == full, s"dim $src state drifted from the view")
      }
  }

  test("intra-batch duplicate keys: dedupeBatch before applyDelta keeps the mart exact") {
    // raw permits duplicate raw_ids within one batch (insertIfAbsent only
    // anti-joins EXISTING rows); feeding the raw batch to applyDelta
    // double-counts. The pipeline contract is one row per key before
    // applyDelta (app.Main gets it from ChangeScan's per-id pick; the
    // streaming ingest from dedupeBatch) — this pins that contract.
    val raw = graft.queries.EndToEndQueries.ordersAsRawProbe(spark, sfTiny)
    val staging = stagingOf(raw).cache()
    val mart0 = IncrementalMart.initialize(staging).cache()

    val edits = staging.filter($"raw_id".cast("long") % 7 === 0)
      .withColumn("total_rub", $"total_rub" * 2)
      .withColumn("received_at", $"received_at" + expr("interval 1 day"))
    // duplicate versions of the same keys, older received_at → must LOSE
    val losers = staging.filter($"raw_id".cast("long") % 7 === 0)
      .withColumn("total_rub", $"total_rub" * 5)
    val rawBatch = edits.unionByName(losers)

    val batch = StagingMerge.dedupeBatch(rawBatch)
    val oldRows = staging.join(batch.select($"raw_id"), Seq("raw_id"), "left_semi")
    val merged = StagingMerge.merge(staging, rawBatch).cache()

    val incremental = IncrementalMart.present(
      IncrementalMart.applyDelta(mart0, oldRows, batch))
      .collect().map(_.toString).toSet
    val full = IncrementalMart.present(IncrementalMart.initialize(merged))
      .collect().map(_.toString).toSet
    assert(incremental == full)

    // and the un-deduped batch DOES drift — the bug the contract prevents
    val drifted = IncrementalMart.present(
      IncrementalMart.applyDelta(mart0, oldRows, rawBatch))
      .collect().map(_.toString).toSet
    assert(drifted != full)
  }

  test("q1 mart: maintained == recompute bit-for-bit; delta pushdown; advance == rebuild") {
    import graft.marts.TpchMart
    val li = Tables.lineitem(spark, sfTiny)

    // serve: state(< 1998-01-01) ⊕ delta == the full q1 recompute,
    // compared on the RENDERED strings/doubles (the oracle contract)
    val maintained = TpchMart.q1Maintained(spark, sfTiny, li, "1998-01-01", "1998-09-02")
      .collect().map(_.toString)
    val full = SparkEntry.registry("q1_pricing_summary").fn(spark, sfTiny)
      .collect().map(_.toString)
    assert(maintained.sameElements(full),
      s"maintained drifted:\n${maintained.mkString("\n")}\nvs\n${full.mkString("\n")}")

    // the fact scan reads ONLY the delta range: the ship-date lower bound
    // reaches the parquet scan (the state side is a 6-row mart read)
    spark.catalog.clearCache()
    val p = TpchMart.q1Maintained(spark, sfTiny, li, "1998-01-01", "1998-09-02")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1998-01-01"), p)

    // advance: fold the 1998-H1 delta into a SCRATCH store (never the
    // shared ensure cache) and compare against a from-scratch build at
    // the new cutoff — the nightly commit is exactly a rebuild
    val tmp = java.nio.file.Files.createTempDirectory("q1mart").toString
    val store = new graft.etl.ParquetTableStore(spark, tmp)
    store.overwrite("q1_state", TpchMart.q1Partials(
      li.filter($"l_shipdate" < lit("1998-01-01").cast("timestamp"))))
    TpchMart.advance(store, li, "1998-01-01", "1998-07-01")
    val advanced = TpchMart.renderQ1(store.read("q1_state")).collect().map(_.toString)
    val rebuilt = TpchMart.renderQ1(TpchMart.q1Partials(
      li.filter($"l_shipdate" < lit("1998-07-01").cast("timestamp"))))
      .collect().map(_.toString)
    assert(advanced.sameElements(rebuilt))

    // empty-delta fixed points: an upper below the cutoff serves the
    // bare state; advancing over an empty range rewrites the same state
    val bare = TpchMart.renderQ1(TpchMart.q1Partials(
      li.filter($"l_shipdate" < lit("1998-01-01").cast("timestamp"))))
      .collect().map(_.toString)
    val served = TpchMart.q1Maintained(spark, sfTiny, li, "1998-01-01", "1997-12-31")
      .collect().map(_.toString)
    assert(served.sameElements(bare))
    TpchMart.advance(store, li, "1998-07-01", "1998-07-01")
    val after = TpchMart.renderQ1(store.read("q1_state")).collect().map(_.toString)
    assert(after.sameElements(advanced))
  }
}
