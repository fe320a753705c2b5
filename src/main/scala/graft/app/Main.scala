package graft.app

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.GraftSession
import graft.etl.{ChangeScan, Normalize, ParquetTableStore, RawLoader, StagingMerge}
import graft.marts.{IncrementalDims, IncrementalMart, Views}
import graft.schema.Layers

/** CLI mirroring the reference's entry points (main.py:249-297):
  *
  *   run <layerRoot> [--source S] [--test]   incremental ELT
  *   load <layerRoot> <csvPath> [--source S] ingest a values file into raw
  *   check <layerRoot>                       layer/mart health counts
  *   analyze <layerRoot>                     column profile + expectations
  *   dedup <docs> <out> [--threshold T] [--exact] [--indexed]
  *                                           corpus near-dup removal;
  *                                           --indexed also persists the
  *                                           prefix index beside the state
  *   dedup <docs> <out> --containment [--threshold T]
  *                                           drop excerpts of larger docs
  *   dedup <docs> <out> --containment --incremental <new> [--threshold T]
  *                                           merge a batch's containment
  *                                           decisions into stored state
  *   dedup <docs> <out> --incremental <new> [--threshold T] [--indexed]
  *                                           merge a new batch's near-dups
  *                                           into an existing dedup state;
  *                                           --indexed serves the delta
  *                                           from the persisted prefix
  *                                           index and absorbs the batch
  *   dedup <docs> <out> --spans [--scrub] [--n N]
  *                                           duplicated-span report (and
  *                                           scrubbed corpus rebuild)
  *   dedupidx build <docs> <idx> [--threshold T] [--cthreshold C]
  *                                           persist the prefix/postings
  *                                           dedup index over a corpus
  *   dedupidx serve <batch> <idx> <out> [--threshold T] [--containment] [--append]
  *                                           batch's near-dup (or
  *                                           containment) pair delta from
  *                                           the stored index; --append
  *                                           absorbs the batch afterwards
  *   dedupidx refreeze <idx>                 re-rank prefixes under the
  *                                           CURRENT corpus frequencies
  *                                           (heals frozen-df staleness;
  *                                           derives from stored sets,
  *                                           no corpus re-read)
  *   dedupidx merge <dst> <src>              fold a shard-built index into
  *                                           <dst>: sets union + prefix
  *                                           re-rank over merged freqs
  *                                           (== fresh build over union)
  *   <family> retract <idx> <ids-parquet>    takedown: forget the listed
  *                                           doc ids from the index (==
  *                                           fresh build without them);
  *                                           families: dedupidx suffixidx
  *                                           mediaidx search index
  *   suffixidx build <docs> <idx> [--min N] [--max M]
  *                                           persist the suffix-key state
  *                                           for exact-substring dedup
  *   suffixidx serve <batch> <idx> <out> [--scrub] [--append]
  *                                           batch's maximal duplicated-
  *                                           span lengths vs corpus∪batch
  *                                           (--scrub: rebuilt clean text
  *                                           instead); --append absorbs
  *                                           the batch
  *   suffixidx compact <idx>                 rewrite suffix buckets to ~1 file each
  *   suffixidx refreeze <idx> [--min M] [--max X]
  *                                           tighten the frozen caps from
  *                                           stored keys, no corpus re-read
  *                                           (loosening = rebuild)
  *   suffixidx merge <dst> <src>             fold a shard-built suffix index
  *                                           into <dst> at the cap
  *                                           intersection (== fresh build
  *                                           over the union corpus)
  *   mediaidx build <docs> <idx> [--hamming H]
  *                                           persist the perceptual-hash
  *                                           band index over media files
  *   mediaidx serve <batch> <idx> <out> [--append]
  *                                           batch's near-dup pair delta
  *                                           vs corpus∪batch
  *   mediaidx compact <idx>                  rewrite band buckets to ~1 file each
  *   index build <emb> <out> [--ivf|--ivfpq] train + persist an ANN index
  *   index append <emb> <out>                encode a new batch, frozen quantizers
  *   index compact <idx> [--splits N]        rewrite append-accumulated code files
  *   index merge <dst> <src>                 fold a shard-built ANN index into
  *                                           <dst> (identical frozen quantizers
  *                                           required; codes union, cell-clustered)
  *   index query <queries> <idx> <res> [--k K]  top-k from the stored index
  *   decon <emb> <out> --benchmark <bench> [--threshold T]
  *                                           flag corpus vectors too close
  *                                           to a (frozen, persisted) eval
  *                                           benchmark in embedding space
  *   decon <emb-new> <out> --incremental     score only a new batch against
  *                                           the stored benchmark artifact
  *   semdedup <emb> <out> [--threshold T]    SemDeDup state: frozen cell
  *                                           quantizer + assigned + pair
  *                                           graph + clusters + kept
  *   semdedup <emb> <out> --incremental <new-emb> [--threshold T]
  *                                           assign a batch into the frozen
  *                                           cells, delta-only pair scoring,
  *                                           labels merged incrementally
  *   semdedup retract <out> <ids-parquet>    takedown: forget the listed
  *                                           vec_ids — pair graph pruned,
  *                                           labels re-closed (splits OK),
  *                                           kept re-derived; frozen cells
  *                                           stay (aggregate statistics)
  *   semdedup train <emb> <out>              central quantizer train (one
  *                                           narrow pass) — shards then
  *                                           build with --centroids <out>
  *   semdedup <emb-shard> <out> --centroids <path>
  *                                           frozen shard build: assign
  *                                           into the shared cells instead
  *                                           of training locally
  *   semdedup merge <dst> <src> [--threshold T]
  *                                           fold shard states: union +
  *                                           cross-shard pair scoring,
  *                                           labels merged incrementally;
  *                                           == one-shot build over union
  *   export <docs> <out> [--budget B] [--shard-seqs S]
  *                                           materialize deterministic JSONL
  *                                           training shards + md5 manifest
  *   export serve <batch> <state> <out> [--threshold T] [--budget B] [--shard-seqs S]
  *                                           streamed front door: gate +
  *                                           split-serve the wave, admit
  *                                           canonical train docs, regen
  *                                           the manifest over admitted
  *   export reconcile <state> [--budget B] [--shard-seqs S]
  *                                           re-derive admission under the
  *                                           CURRENT splits/clusters (run
  *                                           after `split resolve`); regen
  *                                           the manifest; idempotent
  *   export retract <state> <ids-parquet> [--budget B] [--shard-seqs S]
  *                                           takedown through every layer:
  *                                           index forgets, labels
  *                                           re-derive, survivors keep
  *                                           frozen splits, admission +
  *                                           manifest reconcile
  *   search build|append <docs> <idx>        persist / extend the inverted index
  *   search compact <idx>                    rewrite postings to ~1 file/bucket
  *   search query <idx> <out> --terms a,b,c [--k K] [--mmr [--page P]]
  *                                           BM25 top-k from the stored
  *                                           index; --mmr reranks the pool
  *                                           into a diversified page
  *   split serve <batch> <state> <out> [--threshold T]
  *                                           leakage-safe train/val/test
  *                                           labels for a batch: adopt its
  *                                           cluster's frozen split, hash
  *                                           fresh clusters, flag bridges
  *                                           as conflicts; state absorbed
  *   split resolve <state>                   adjudicate quarantined clusters:
  *                                           majority vote of real-split
  *                                           members (deterministic ties),
  *                                           whole cluster moves, splits
  *                                           table rewritten; idempotent
  *   split compact <state> [--splits N]      rewrite the wave-appended plain
  *                                           tables (splits/clusters/
  *                                           admitted/gated) to <= N files
  *   bpe train <docs> <out> [--merges N]     train + persist a BPE merge
  *                                           list (driver-bounded loop)
  *   bpe encode <docs> <mergesDir> <out>     per-doc token counts +
  *                                           fertility under stored merges
  *   mart build <lineitem> <state> [--cutoff D]
  *                                           persist Q1 decimal partials
  *                                           through D (+ cutoff meta)
  *   mart serve <lineitem> <state> <out> [--upper D]
  *                                           state ⊕ delta slice == the
  *                                           full recompute, bit for bit
  *   mart advance <lineitem> <state> --to D  nightly commit: fold the
  *                                           delta, move the cutoff
  *   mart retract <state> <rows>             subtract a retracted slice's
  *                                           partials (exact — abelian)
  *   monitor <events> <out> [--window N] [--min-n M] [--cusum]
  *                                           robust median/MAD anomaly flags
  *                                           per user over an event series;
  *                                           --cusum emits daily-volume
  *                                           changepoints per event type
  *
  * Layers are Parquet tables under layerRoot (raw / staging / audit /
  * marts_*), managed by ParquetTableStore's atomic-swap rewrites.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    try route(spark, args.toList) finally spark.stop()
  }

  /** Argument dispatch, separated from session lifecycle so the routing
    * itself is testable (AppAndSinksSpec drives the real CLI surface
    * without tearing down the shared session).
    */
  def route(spark: SparkSession, args: List[String]): Unit = {
    import spark.implicits._
    args match {
      case "run" :: root :: rest => runElt(spark, root, opt(rest, "--source"), rest.contains("--test"))
      case "load" :: root :: csv :: rest => load(spark, root, csv, opt(rest, "--source").getOrElse("csv"))
      case "check" :: root :: Nil => check(spark, root)
      case "analyze" :: root :: Nil => analyze(spark, root)
      case "dedupidx" :: "build" :: docs :: idx :: rest =>
        dedupIdxBuild(spark, docs, idx,
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.8),
          opt(rest, "--cthreshold").map(_.toDouble).getOrElse(0.8))
      case "dedupidx" :: "compact" :: idx :: Nil =>
        dedupIdxCompact(spark, idx)
      case "dedupidx" :: "refreeze" :: idx :: Nil =>
        graft.operators.DedupIndexStore.refreeze(new ParquetTableStore(spark, idx))
        println(s"[graft] dedupidx refreeze: prefix order re-frozen from current frequencies in $idx")
      case "dedupidx" :: "merge" :: dst :: src :: Nil =>
        graft.operators.DedupIndexStore.merge(
          new ParquetTableStore(spark, dst), new ParquetTableStore(spark, src))
        println(s"[graft] dedupidx merge: $src folded into $dst (prefix order re-frozen over the union)")
      case "dedupidx" :: "retract" :: idx :: ids :: Nil =>
        graft.operators.DedupIndexStore.retract(
          new ParquetTableStore(spark, idx), spark.read.parquet(ids))
        println(s"[graft] dedupidx retract: ids in $ids forgotten from $idx (prefix order re-frozen)")
      case "split" :: "serve" :: batch :: state :: out :: rest =>
        splitServe(spark, batch, state, out,
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.8))
      case "split" :: "resolve" :: state :: Nil =>
        val n = graft.operators.Curation.resolveConflictsInStore(
          new ParquetTableStore(spark, state))
        println(s"[graft] split resolve: $n docs reassigned" +
          (if (n == 0) " (no quarantined clusters)" else ""))
      case "split" :: "compact" :: state :: rest =>
        // the split/export service's plain (non-bucketed) tables grow a
        // file set per wave (`append`); rewrite each to a bounded count.
        // Contents unchanged; the store's tmp + atomic swap means a
        // concurrent reader never sees a torn table. The dedup-index
        // tables have their own bucket-preserving pass (dedupidx compact).
        val store = new ParquetTableStore(spark, state)
        val k = opt(rest, "--splits").map(_.toInt).getOrElse(32)
        val done = Seq("splits", "clusters", "admitted", "gated")
          .filter(store.exists)
        done.foreach(t => store.overwrite(t, store.read(t).coalesce(k)))
        println(s"[graft] split compact: ${done.mkString(", ")} rewritten to <= $k files each")
      // ── incremental mart (TpchMart): the distributive-aggregate
      //    deployment verbs — build state through a cutoff, serve
      //    state ⊕ delta, commit the nightly advance, forget a
      //    retracted slice (exact decimal subtraction). The cutoff
      //    rides a 1-row q1_meta table so serve/advance need no flag.
      case "mart" :: "build" :: li :: state :: rest =>
        val cutoff = opt(rest, "--cutoff").getOrElse("1998-01-01")
        val store = new ParquetTableStore(spark, state)
        store.stage("q1_state", graft.marts.TpchMart.q1Partials(
          spark.read.parquet(li)
            .filter(col("l_shipdate") < lit(cutoff).cast("timestamp"))))
        store.stage("q1_meta", Seq(cutoff).toDF("cutoff"))
        store.commitStaged(Seq("q1_state", "q1_meta"))
        println(s"[graft] mart build: q1 partials through $cutoff in $state")
      case "mart" :: "serve" :: li :: state :: out :: rest =>
        val store = new ParquetTableStore(spark, state)
        val cutoff = store.read("q1_meta").head().getString(0)
        val upper = opt(rest, "--upper").getOrElse("9999-12-31")
        val delta = spark.read.parquet(li)
          .filter(col("l_shipdate") >= lit(cutoff).cast("timestamp") &&
            col("l_shipdate") <= lit(upper).cast("timestamp"))
        graft.marts.TpchMart.renderQ1(graft.marts.TpchMart.foldPartials(
            store.read("q1_state"), graft.marts.TpchMart.q1Partials(delta)))
          .write.mode("overwrite").parquet(out)
        println(s"[graft] mart serve: state($cutoff) + delta(..$upper) -> $out")
      case "mart" :: "advance" :: li :: state :: rest =>
        val store = new ParquetTableStore(spark, state)
        val cutoff = store.read("q1_meta").head().getString(0)
        val to = opt(rest, "--to").getOrElse(
          sys.error("mart advance needs --to <new-cutoff>"))
        graft.marts.TpchMart.advance(store, spark.read.parquet(li), cutoff, to)
        store.overwrite("q1_meta", Seq(to).toDF("cutoff"))
        println(s"[graft] mart advance: state moved $cutoff -> $to")
      case "mart" :: "retract" :: state :: rows :: Nil =>
        val store = new ParquetTableStore(spark, state)
        graft.marts.TpchMart.retract(store, spark.read.parquet(rows))
        println(s"[graft] mart retract: rows in $rows subtracted from $state")
      case "bpe" :: "train" :: docs :: out :: rest =>
        bpeTrain(spark, docs, out,
          opt(rest, "--merges").map(_.toInt).getOrElse(1000))
      case "bpe" :: "encode" :: docs :: merges :: out :: Nil =>
        bpeEncode(spark, docs, merges, out)
      case "suffixidx" :: "build" :: docs :: idx :: rest =>
        suffixIdxBuild(spark, docs, idx,
          opt(rest, "--min").map(_.toInt).getOrElse(8),
          opt(rest, "--max").map(_.toInt).getOrElse(32))
      case "suffixidx" :: "serve" :: batch :: idx :: out :: rest =>
        suffixIdxServe(spark, batch, idx, out, rest.contains("--scrub"),
          rest.contains("--append"))
      case "suffixidx" :: "compact" :: idx :: Nil =>
        graft.operators.SuffixIndexStore.compact(new ParquetTableStore(spark, idx))
        println(s"[graft] suffixidx compact: suffix buckets rewritten in $idx")
      case "suffixidx" :: "refreeze" :: idx :: rest =>
        val store = new ParquetTableStore(spark, idx)
        graft.operators.SuffixIndexStore.refreeze(store,
          opt(rest, "--min").map(_.toInt).getOrElse(8),
          opt(rest, "--max").map(_.toInt).getOrElse(32))
        println(s"[graft] suffixidx refreeze: caps tightened from stored keys in $idx")
      case "suffixidx" :: "merge" :: dst :: src :: Nil =>
        graft.operators.SuffixIndexStore.merge(
          new ParquetTableStore(spark, dst), new ParquetTableStore(spark, src))
        println(s"[graft] suffixidx merge: $src folded into $dst (caps tightened to the intersection)")
      case "suffixidx" :: "retract" :: idx :: ids :: Nil =>
        graft.operators.SuffixIndexStore.retract(
          new ParquetTableStore(spark, idx), spark.read.parquet(ids))
        println(s"[graft] suffixidx retract: ids in $ids forgotten from $idx")
      case "mediaidx" :: "build" :: docs :: idx :: rest =>
        mediaIdxBuild(spark, docs, idx,
          opt(rest, "--hamming").map(_.toInt).getOrElse(7))
      case "mediaidx" :: "serve" :: batch :: idx :: out :: rest =>
        mediaIdxServe(spark, batch, idx, out, rest.contains("--append"))
      case "mediaidx" :: "compact" :: idx :: Nil =>
        graft.multimodal.MediaIndexStore.compact(new ParquetTableStore(spark, idx))
        println(s"[graft] mediaidx compact: band buckets rewritten in $idx")
      case "mediaidx" :: "merge" :: dst :: src :: Nil =>
        graft.operators.HammingIndexStore.merge(
          new ParquetTableStore(spark, dst), new ParquetTableStore(spark, src))
        println(s"[graft] mediaidx merge: $src folded into $dst")
      case "mediaidx" :: "retract" :: idx :: ids :: Nil =>
        graft.operators.HammingIndexStore.retract(
          new ParquetTableStore(spark, idx), spark.read.parquet(ids))
        println(s"[graft] mediaidx retract: ids in $ids forgotten from $idx")
      case "search" :: "merge" :: dst :: src :: Nil =>
        graft.operators.TextIndexStore.merge(spark, dst, src)
        println(s"[graft] search merge: $src folded into $dst (stats re-derived from merged postings)")
      case "search" :: "retract" :: idx :: ids :: Nil =>
        graft.operators.TextIndexStore.retract(spark, idx, spark.read.parquet(ids))
        println(s"[graft] search retract: ids in $ids forgotten from $idx (stats re-derived)")
      case "index" :: "retract" :: idx :: ids :: Nil =>
        graft.operators.VectorIndexStore.retract(spark, idx, spark.read.parquet(ids))
        println(s"[graft] index retract: ids in $ids forgotten from $idx (artifacts frozen)")
      case "index" :: "merge" :: dst :: src :: Nil =>
        graft.operators.VectorIndexStore.merge(spark, dst, src)
        println(s"[graft] index merge: $src folded into $dst " +
          "(identical frozen quantizers verified; codes cell-clustered)")
      case "dedupidx" :: "serve" :: batch :: idx :: out :: rest =>
        dedupIdxServe(spark, batch, idx, out,
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.8),
          rest.contains("--containment"), rest.contains("--append"))
      case "index" :: "build" :: emb :: out :: rest =>
        indexBuild(spark, emb, out,
          if (rest.contains("--ivfpq")) "ivfpq"
          else if (rest.contains("--ivf")) "ivf" else "pq")
      case "index" :: "append" :: emb :: out :: Nil =>
        indexAppend(spark, emb, out)
      case "index" :: "compact" :: idx :: rest =>
        graft.operators.VectorIndexStore.compactCodes(spark, idx,
          opt(rest, "--splits").map(_.toInt).getOrElse(32))
        println(s"[graft] index compact: codes rewritten in $idx")
      case "index" :: "query" :: q :: idx :: resOut :: rest =>
        indexQuery(spark, q, idx, resOut,
          opt(rest, "--k").map(_.toInt).getOrElse(10))
      case "monitor" :: events :: out :: rest =>
        monitor(spark, events, out,
          opt(rest, "--window").map(_.toInt).getOrElse(21),
          opt(rest, "--min-n").map(_.toInt).getOrElse(10),
          rest.contains("--cusum"))
      // ordered matching: the combined --containment --incremental case
      // MUST precede the plain --incremental case or it is unreachable
      // (Scala dispatches to the first matching case).
      case "dedup" :: docs :: out :: rest
          if rest.contains("--containment") && rest.contains("--incremental") =>
        dedupContainmentIncremental(spark, docs, out,
          opt(rest, "--incremental").getOrElse(sys.error("--incremental needs a path")),
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.8))
      case "dedup" :: docs :: out :: rest if rest.contains("--incremental") =>
        dedupIncremental(spark, docs, out,
          opt(rest, "--incremental").getOrElse(sys.error("--incremental needs a path")),
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.8),
          rest.contains("--indexed"))
      case "dedup" :: docs :: out :: rest if rest.contains("--containment") =>
        dedupContainment(spark, docs, out,
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.8))
      case "dedup" :: docs :: out :: rest if rest.contains("--spans") =>
        dedupSpans(spark, docs, out,
          opt(rest, "--n").map(_.toInt).getOrElse(8),
          rest.contains("--scrub"))
      case "dedup" :: docs :: out :: rest =>
        dedup(spark, docs, out,
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.8),
          rest.contains("--exact"), rest.contains("--indexed"))
      case "export" :: "serve" :: batch :: state :: out :: rest =>
        exportServe(spark, batch, state, out,
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.8),
          opt(rest, "--budget").map(_.toLong).getOrElse(1024L),
          opt(rest, "--shard-seqs").map(_.toLong).getOrElse(4L))
      case "export" :: "reconcile" :: state :: rest =>
        val store = new ParquetTableStore(spark, state)
        val (flipped, manifest) = graft.operators.Curation.exportReconcile(store,
          opt(rest, "--budget").map(_.toLong).getOrElse(1024L),
          opt(rest, "--shard-seqs").map(_.toLong).getOrElse(4L))
        store.overwrite("manifest", manifest)
        println(s"[graft] export reconcile: $flipped docs flipped admission" +
          (if (flipped == 0) " (state already consistent)" else ""))
      case "export" :: "retract" :: state :: ids :: rest =>
        val store = new ParquetTableStore(spark, state)
        val (flipped, manifest) = graft.operators.Curation.exportRetract(store,
          spark.read.parquet(ids),
          opt(rest, "--budget").map(_.toLong).getOrElse(1024L),
          opt(rest, "--shard-seqs").map(_.toLong).getOrElse(4L))
        store.overwrite("manifest", manifest)
        println(s"[graft] export retract: ids in $ids forgotten through every " +
          s"layer; $flipped docs flipped admission")
      case "export" :: docs :: out :: rest =>
        exportShards(spark, docs, out,
          opt(rest, "--budget").map(_.toLong).getOrElse(2048L),
          opt(rest, "--shard-seqs").map(_.toLong).getOrElse(64L))
      case "decon" :: emb :: out :: rest if rest.contains("--incremental") =>
        deconIncremental(spark, emb, out)
      case "decon" :: emb :: out :: rest if rest.contains("--benchmark") =>
        decon(spark, emb, out,
          opt(rest, "--benchmark").getOrElse(sys.error("--benchmark needs a path")),
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.35))
      case "semdedup" :: "retract" :: out :: ids :: Nil =>
        semdedupRetract(spark, out, ids)
      case "semdedup" :: "train" :: emb :: out :: Nil =>
        semdedupTrain(spark, emb, out)
      case "semdedup" :: "merge" :: dst :: src :: rest =>
        semdedupMerge(spark, dst, src,
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.3))
      case "semdedup" :: emb :: out :: rest if rest.contains("--incremental") =>
        semdedupIncremental(spark, emb, out,
          opt(rest, "--incremental").getOrElse(sys.error("--incremental needs a path")),
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.3))
      case "semdedup" :: emb :: out :: rest =>
        semdedup(spark, emb, out,
          opt(rest, "--threshold").map(_.toDouble).getOrElse(0.3),
          opt(rest, "--centroids"))
      case "quality" :: "train" :: docs :: model :: Nil =>
        qualityTrain(spark, docs, model)
      case "quality" :: "score" :: docs :: model :: out :: rest =>
        qualityScore(spark, docs, model, out,
          opt(rest, "--gate").map(_.toLong))
      case "quality" :: docs :: out :: Nil =>
        qualityBatch(spark, docs, out)
      case "curate" :: docs :: out :: rest =>
        curate(spark, docs, out,
          opt(rest, "--rates").map { r =>
            val Array(a, b, c) = r.split(",").map(_.toLong); (a, b, c)
          }.getOrElse((1000L, 700L, 300L)),
          pii = rest.contains("--pii"))
      case "search" :: "build" :: docs :: idx :: Nil =>
        searchBuild(spark, docs, idx)
      case "search" :: "append" :: docs :: idx :: Nil =>
        searchAppend(spark, docs, idx)
      case "search" :: "compact" :: idx :: Nil =>
        graft.operators.TextIndexStore.compact(spark, idx)
        println(s"[graft] search compact: postings buckets rewritten in $idx")
      case "search" :: "query" :: idx :: out :: rest =>
        searchQuery(spark, idx, out,
          opt(rest, "--terms").getOrElse(sys.error("--terms a,b,c required"))
            .split(",").toSeq,
          opt(rest, "--k").map(_.toInt).getOrElse(10),
          if (rest.contains("--mmr"))
            Some(opt(rest, "--page").map(_.toInt).getOrElse(5))
          else None)
      case other => sys.error(s"usage: run|load|check|analyze|dedup[idx]|semdedup|decon|bpe|mart|index|quality|search|curate|export|monitor ... (got $other)")
    }
  }

  private def opt(rest: List[String], flag: String): Option[String] =
    rest.dropWhile(_ != flag).drop(1).headOption

  /** Incremental ELT (ref main.py:33-139): change scan → normalize →
    * quarantine split → staging merge + audit append → marts refresh.
    *
    * Run protocol, one pass per batch:
    *  1. the change scan reads only the FRESH raw part files, those the
    *     consumed set (`ChangeScan.Consumed`) does not list. No fresh file
    *     over an existing staging layer ends the run before any Spark job:
    *     the summary line takes the staging count the set records;
    *  2. the change scan, which picks one row per id, and Normalize run
    *     ONCE: the change set is written to the batch scratch dir
    *     (`<root>/_batch`), and the previous versions of its keys (staging
    *     ⋉ batch ids) are written beside it. Observations on those two
    *     writes collect the quality counters, the number of replaced rows
    *     and the web-mart months both sides touch, with no job of their
    *     own. Every later output reads those two files, never the change
    *     scan's plan;
    *  3. an empty change set over an existing staging layer writes no
    *     table (the reference writes nothing either,
    *     src/transform.py:200-334); a plain run still publishes the fresh
    *     files into the consumed set;
    *  4. staging, the five mart states, the five mart presents, the web
    *     mart's pending months (staged from the observed set) and the
    *     consumed set are staged and published as ONE journaled group
    *     commit: a crash before it leaves every table at its pre-run
    *     content (the next run re-reads the same fresh files, and the
    *     anti-join makes that idempotent), a crash inside it rolls forward
    *     on reopen, so no mart delta is ever applied twice. Audit joins the
    *     group only when the batch replaced a row or no audit table exists
    *     yet: an insert-only batch has an empty audit delta and leaves
    *     audit's files untouched. Each present sorts its small state in
    *     one task;
    *  5. the observed months' partitions of `mart_web_transactions` are
    *     rewritten in place from the published staging (`refreshWebMart`).
    *
    * Every read declares its schema (`eltSchemas`), so no Spark job infers
    * one from a Parquet footer. A run that reads fewer than
    * `CompiledFromBytes` (its fresh raw files, staging and audit) plans
    * with no generated code (`sized`).
    *
    * `--source` and `--test` runs leave fresh rows unapplied (another
    * source's, or past the 100-row limit), so they never add files to the
    * consumed set; they only update its staging count.
    *
    * `beforeCommit` runs between staging and the group commit (a fault-
    * injection point for crash tests).
    */
  def runElt(spark: SparkSession, root: String, source: Option[String], test: Boolean,
      beforeCommit: () => Unit = () => ()): Unit = {
    val store = new ParquetTableStore(spark, root)
    require(store.exists("raw"), s"no raw layer under $root — run `load` first")
    val input @ (_, _, fresh) = pending(store)
    def bytes(table: String) =
      if (store.exists(table)) store.fileBytes(table, store.dataFiles(table)) else 0L
    sized(spark, store.fileBytes("raw", fresh) + bytes("staging") + bytes("audit"))(
      runEltOn(spark, root, source, test, beforeCommit, input))
  }

  /** Whether `store` has staging, the consumed set committed with it (none
    * without one), and the raw files that set does not list: directory
    * listings, no Spark job.
    */
  private[graft] def pending(
      store: ParquetTableStore): (Boolean, Option[ChangeScan.Consumed], Seq[String]) = {
    val hasStaging = store.exists("staging")
    val consumed = if (hasStaging) ChangeScan.Consumed.read(store) else None
    (hasStaging, consumed, ChangeScan.fresh(store, consumed))
  }

  /** `runElt`'s batch over `pending`'s listing of `root`, on the given
    * session, whatever the input's size.
    */
  private[graft] def runEltOn(spark: SparkSession, root: String, source: Option[String],
      test: Boolean, beforeCommit: () => Unit,
      input: (Boolean, Option[ChangeScan.Consumed], Seq[String])): Unit = {
    import ChangeScan.Consumed
    import org.apache.spark.sql.Observation
    import spark.implicits._
    val store = new ParquetTableStore(spark, root)
    val schema = eltSchemas(spark)
    // finish the web-mart refresh of a run that crashed after its commit
    if (store.exists(WebPending)) refreshWebMart(store, root,
      store.read(WebPending, schema(WebPending)).as[String].collect().toSet)
    val (hasStaging, consumed, fresh) = input
    def stagingRows = consumed.fold(store.read("staging", schema("staging")).count())(_.stagingRows)
    if (fresh.isEmpty && hasStaging) {
      println(s"[graft] run complete: 0 changed rows, $stagingRows staging rows")
      return
    }
    val advance = source.isEmpty && !test
    def consumedAfter(n: Long) = Consumed(
      consumed.fold(Set.empty[String])(_.files) ++ (if (advance) fresh else Nil), n)

    val staging0 =
      if (hasStaging) store.read("staging", schema("staging")) else emptyStaging(spark)
    val changes0 = ChangeScan(store.readFiles("raw", fresh, schema("raw")), staging0, source)
    val changes = if (test) ChangeScan.ordered(changes0, Some(100)) else changes0

    // month partitions the web mart must rebuild: new OR pre-update row
    // months (an upsert that moves a row across months rewrites both)
    val months = collect_set(Views.webMonth(col("date"))).as("months")
    def observedMonths(o: Observation) = o.get("months").asInstanceOf[Iterable[String]]
    // observe() collects the quality counters during the batch write —
    // no extra jobs over the normalize (ref main.py:96-103 ran separate
    // counting queries; a 100 TB normalize can't afford a second pass)
    val obs = Observation("quality")
    val normalized = Normalize(changes.select(
        col("id").as("raw_id"), col("sheet_row_number"),
        col("extracted_at").as("received_at"), lit("live").as("source_type"),
        col("payload")))
      .observe(obs, count(lit(1)).as("n_all"),
        count(when(size(col("validation_warnings")) > 0, 1)).as("n_bad"), months)

    val batchDir = s"$root/_batch"
    def materialize(name: String, df: DataFrame): DataFrame = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$batchDir/$name")
      spark.read.schema(df.schema).parquet(s"$batchDir/$name")
    }
    try {
      // one row per raw_id already (the change scan picks per id), so
      // applyDelta never double-counts a key. The diagnostics column
      // rides along for the quarantine sample.
      val batch = materialize("updates", normalized)
      val metrics = obs.get
      val nAll = metrics("n_all").asInstanceOf[Long]
      val nBad = metrics("n_bad").asInstanceOf[Long]
      if (nAll > 0 && nBad * 10 > nAll) { // ref main.py:99 — >10% error alarm
        System.err.println(s"[graft] WARN: $nBad/$nAll rows carry validation warnings")
        batch.filter(size(col("validation_warnings")) > 0)
          .take(5).foreach(r => System.err.println(s"[graft] quarantine sample: $r"))
      }
      if (nAll == 0 && hasStaging) {
        val n = stagingRows
        if (advance) {
          Consumed.stage(store, consumedAfter(n))
          store.commitStaged(Seq(Consumed.Table))
        }
        println(s"[graft] run complete: 0 changed rows, $n staging rows")
        return
      }
      val updates = Normalize.toStaging(batch)
      // audit, mart-state deltas and touched months all read this ONE
      // pre-commit snapshot pair (SURVEY §7.4 item 3)
      val replaced = Observation("replaced")
      val oldRows =
        if (hasStaging) materialize("old_rows",
          staging0.join(updates.select(col("raw_id")), Seq("raw_id"), "left_semi")
            .observe(replaced, count(lit(1)).as("n"), months))
        else staging0
      val (nReplaced, oldMonths) =
        if (hasStaging) (replaced.get("n").asInstanceOf[Long], observedMonths(replaced))
        else (0L, Nil)
      val webMonths = observedMonths(obs).toSet ++ oldMonths
      // an insert-only batch has no audit delta: audit is not rewritten
      val hasAudit = store.exists("audit")
      val audited = nReplaced > 0 || !hasAudit
      if (audited) {
        // restricting staging to the batch's keys leaves the raw_id join unchanged
        val audit = StagingMerge.auditDiff(oldRows, updates)
        store.stage("audit",
          if (hasAudit) store.read("audit", schema("audit")).unionByName(audit) else audit)
      }
      val nStaging = Observation("staging")
      val staging = store.stage("staging",
        StagingMerge.merge(staging0, updates).observe(nStaging, count(lit(1)).as("n")))

      // mart states are maintained INCREMENTALLY: the batch's signed
      // contributions apply to the persisted state instead of
      // re-aggregating all of staging (IncrementalMartSpec proves
      // equality); dimension states are REF-COUNTED (DISTINCT is not
      // abelian — a departing row must not evict a name other rows use).
      // A state whose files lack a column its schema declares (written
      // before the column existed) is rebuilt from the merged staging.
      def state(name: String, delta: DataFrame => DataFrame): DataFrame =
        store.stage(name,
          if (store.exists(name) && schema(name).fieldNames.forall(store.footerColumns(name).contains))
            delta(store.read(name, schema(name)))
          else stateInit(name)(staging))
      val finState = state("mart_financials_state", IncrementalMart.applyDelta(_, oldRows, updates))
      val clientsState = state("dim_clients_state",
        IncrementalDims.applyClientsDelta(_, oldRows, updates))
      def namesState(name: String, src: String): DataFrame =
        state(name, IncrementalDims.applyNamesDelta(_, oldRows, updates, src))
      val categoriesState = namesState("dim_categories_state", "category")
      val vendorsState = namesState("dim_vendors_state", "vendor")
      val expensesState = state("mart_expenses_by_category_state",
        IncrementalMart.applyCategoryDelta(_, oldRows, updates))
      store.stage("mart_financials",
        IncrementalMart.present(finState).withColumn("last_updated", current_timestamp()))
      store.stage("mart_expenses_by_category", IncrementalMart.presentCategories(expensesState)
        .withColumn("last_updated", current_timestamp()))
      store.stage("mart_dim_clients", IncrementalDims.presentClients(clientsState))
      store.stage("mart_dim_categories", IncrementalDims.presentNames(categoriesState))
      store.stage("mart_dim_vendors", IncrementalDims.presentNames(vendorsState))
      store.stage(WebPending, webMonths.toSeq.sorted.toDF("month").coalesce(1))

      val n = nStaging.get("n").asInstanceOf[Long]
      Consumed.stage(store, consumedAfter(n))

      beforeCommit()
      store.commitStaged((if (audited) Seq("audit") else Nil) ++ Seq("staging",
        "mart_financials_state", "dim_clients_state", "dim_categories_state",
        "dim_vendors_state", "mart_expenses_by_category_state", "mart_financials",
        "mart_expenses_by_category", "mart_dim_clients", "mart_dim_categories",
        "mart_dim_vendors", WebPending, Consumed.Table))
      refreshWebMart(store, root, webMonths)
      println(s"[graft] run complete: $nAll changed rows, $n staging rows")
    } finally ParquetTableStore.deleteStoreDir(batchDir)
  }

  /** Input bytes from which `load` and `runElt` run compiled. A run that
    * reads less plans with no generated code (`Bridge.interpreted`): a
    * fresh process spends much of a small batch's CPU compiling generated
    * classes (Janino) and JIT-compiling them, while the interpreted
    * operators are compiled once for every plan. Past the crossover,
    * interpreted evaluation costs more per row than compiling saves.
    * Fresh-JVM backfills of growing size crossed at about 5.5 MB of input
    * (README, "ELT runs: small inputs plan interpreted"). That table, one
    * or two runs per size, is all this constant and the compiled side
    * rest on: `elt_incremental` reads about 0.1 MB per run, so the
    * benchmark measures only the interpreted side.
    */
  private[graft] val CompiledFromBytes: Long = 4L << 20

  /** Runs an ELT step that reads `inputBytes`: below `CompiledFromBytes`
    * with `spark` planning no generated code (`Bridge.interpreted`, which
    * gives `spark` its confs back after a return or a throw), from it
    * compiled as `spark` is set.
    */
  private def sized[T](spark: SparkSession, inputBytes: Long)(body: => T): T =
    if (inputBytes >= CompiledFromBytes) body
    else org.apache.spark.sql.graftbridge.Bridge.interpreted(spark)(body)

  /** Month partitions of `mart_web_transactions` a committed run still
    * has to rewrite; published with the run's group commit and removed
    * once the rewrite is done.
    */
  private[graft] val WebPending = "web_months_pending"

  /** Each mart state table and the plan that builds it from a full
    * staging snapshot (`runElt`'s first run).
    */
  private val stateInit: Map[String, DataFrame => DataFrame] = Map(
    "mart_financials_state" -> (IncrementalMart.initialize(_)),
    "dim_clients_state" -> (IncrementalDims.initializeClients(_)),
    "dim_categories_state" -> (IncrementalDims.initializeNames(_, "category")),
    "dim_vendors_state" -> (IncrementalDims.initializeNames(_, "vendor")),
    "mart_expenses_by_category_state" -> (IncrementalMart.initializeCategories(_)))

  private def emptyStaging(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Layers.staging)

  /** The schema `runElt` and `load` declare for each table they read
    * back, so no read starts a job to infer one from a Parquet footer:
    * the layers from `Layers`, each mart state from the analyzed plan of
    * its `stateInit` over an empty staging (analysis only, no job).
    */
  private[graft] def eltSchemas(spark: SparkSession): Map[String, StructType] = {
    val staging = emptyStaging(spark)
    Map("raw" -> Layers.raw, "staging" -> Layers.staging, "audit" -> Layers.audit,
      WebPending -> new StructType().add("month", StringType)) ++
      stateInit.map { case (name, init) => name -> init(staging).schema }
  }

  /** Row-level query mart, maintained INCREMENTALLY at partition grain:
    * only the given month partitions are rebuilt from the published
    * staging (all of them on the first build); every other month's files
    * are untouched. Within each partition, Hilbert-cluster on (day,
    * client-hash) so date ranges AND client lookups both prune files by
    * min/max stats. Idempotent, so a run that crashed between its commit
    * and this rewrite is finished by the next run.
    */
  private def refreshWebMart(store: ParquetTableStore, root: String, months: Set[String]): Unit = {
    val webP = Views.webTransactionsP(store.read("staging", Layers.staging))
    val webDelta =
      if (store.exists("mart_web_transactions")) webP.where(col("month").isin(months.toSeq: _*))
      else webP
    store.upsertPartitionsClustered("mart_web_transactions", webDelta, "month",
      datediff(col("date"), lit("1970-01-01").cast("date")),
      pmod(xxhash64(col("client")), lit(1L << 20)), months)
    ParquetTableStore.deleteStoreDir(s"$root/$WebPending")
  }

  /** Ingest (ref main.py:166-217): headered CSV → payload maps → raw
    * append with insert-if-absent + duplicate warnings + CSV archive.
    */
  def load(spark: SparkSession, root: String, csvPath: String, source: String): Unit = {
    val store = new ParquetTableStore(spark, root)
    // a path this process cannot list (a glob, a remote URI) runs compiled
    val csvBytes = if (!Files.exists(Paths.get(csvPath))) CompiledFromBytes else {
      val s = Files.walk(Paths.get(csvPath))
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
    val rawBytes = if (store.exists("raw")) store.fileBytes("raw", store.dataFiles("raw")) else 0L
    sized(spark, csvBytes + rawBytes)(loadOn(spark, root, csvPath, source))
  }

  /** `load` on the given session, whatever the input's size. */
  private[graft] def loadOn(spark: SparkSession, root: String, csvPath: String,
      source: String): Unit = {
    val store = new ParquetTableStore(spark, root)
    val csv = spark.read.option("header", "true").csv(csvPath).na.fill("")
    val headers = RawLoader.fixHeaders(csv.columns.toSeq)
    val kept = csv.columns.toSeq.take(RawLoader.SheetWidth) // extra cols truncated, ref src/sheets.py:42
    val payload = map_from_arrays(
      typedLit(headers),
      array(kept.map(c => col(s"`$c`")) ++
        Seq.fill(headers.length - kept.length)(lit("")): _*))
    // sheet row numbers via RDD zipWithIndex (order-preserving, parallel)
    // — a row_number window with no partition key would funnel the whole
    // file through ONE task; +2 because sheet row 1 is the header
    val numbered = spark.createDataFrame(
      csv.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 2L).toInt)
      },
      csv.schema.add("sheet_row_number", org.apache.spark.sql.types.IntegerType))
    val rows = numbered.select(col("sheet_row_number"), payload.as("payload"))
    val incoming = RawLoader.fromPayloads(rows, source)
    val dups = RawLoader.duplicateHashes(incoming)
    dups.take(5).foreach(r => System.err.println(s"[graft] duplicate content: $r"))
    // the appended rows are counted on the raw write itself: a count()
    // afterwards would re-run the CSV read, numbering, hashing and the
    // id anti-join against all of raw
    val obs = org.apache.spark.sql.Observation("load")
    def appended(df: DataFrame) = df.observe(obs, count(lit(1)).as("n"))
    // an append that adds no row adds no file either: every raw file is
    // one the change scan must read once
    if (store.exists("raw"))
      store.appendIf("raw",
        appended(RawLoader.insertIfAbsent(store.read("raw", Layers.raw), incoming)))(
        obs.get("n").asInstanceOf[Long] > 0)
    else store.overwrite("raw", appended(incoming))
    RawLoader.archiveCsv(incoming, s"$root/archive",
      java.time.LocalDate.now().toString, source)
    println(s"[graft] loaded ${obs.get("n")} new rows from $csvPath")
  }

  /** Health counts per layer (ref tests/test_db.py shape). */
  def check(spark: SparkSession, root: String): Unit = {
    val store = new ParquetTableStore(spark, root)
    Seq("raw", "staging", "audit", "mart_financials", "mart_financials_state",
      "mart_web_transactions", "mart_dim_clients", "mart_dim_categories",
      "mart_dim_vendors", "dim_clients_state", "dim_categories_state",
      "dim_vendors_state").foreach { t =>
      val n = if (store.exists(t)) store.read(t).count() else -1L
      println(s"[graft] $t: ${if (n < 0) "absent" else s"$n rows"}")
    }
  }

  /** ANALYZE pass over the staging layer: single-scan column profile
    * (operators/Profile) + the reference's quality monitors as declarative
    * expectations — the reports dq1/dq2 register as gate queries, wired
    * into the product CLI. Returns the expectation-violation total so the
    * caller (or a cron wrapper) can alarm on non-zero, mirroring the
    * reference's 10%-error-rate warning (main.py:96-103).
    */
  def analyze(spark: SparkSession, root: String): Long = {
    import graft.operators.Profile
    import graft.operators.Profile.ColSpec
    val store = new ParquetTableStore(spark, root)
    require(store.exists("staging"), s"no staging layer under $root — run `run` first")
    val staging = store.read("staging")

    val prof = Profile.profile(staging, Seq(
      ColSpec("raw_id"), ColSpec("type"), ColSpec("client"),
      ColSpec("total_rub", Profile.decimalRender), ColSpec("date")))
    prof.collect().foreach { r =>
      println(s"[graft] profile ${r.getAs[String]("col_name")}: " +
        s"nulls=${r.getAs[Long]("n_nulls")} distinct=${r.getAs[Long]("n_distinct")} " +
        s"min=${r.getAs[String]("min_s")} max=${r.getAs[String]("max_s")}")
    }

    // expectations over the layer contract: PK unique, hash present,
    // financial rows carry a total (P10), dates above the garbage floor
    val typeIsFin = col("type").isin("Доход", "Расход", "Income", "Expense")
    val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "null_payload_hash" -> col("payload_hash").isNull,
      "fin_missing_total" -> (typeIsFin && col("total_rub").isNull),
      "date_below_floor" -> (coalesce(col("payment_date"), col("date")) <
        lit("2005-01-01").cast("timestamp")))
    val aggs = rules.map { case (n, bad) =>
      sum(when(bad, 1L).otherwise(0L)).cast("long").as(n)
    } :+ count(lit(1)).cast("long").as("checked") :+
      (count(lit(1)) - count_distinct(col("raw_id"))).cast("long").as("dup_raw_id")
    val row = staging.agg(aggs.head, aggs.tail: _*).head()
    val names = rules.map(_._1) :+ "dup_raw_id"
    var violations = 0L
    names.foreach { n =>
      val v = row.getAs[Long](n)
      violations += v
      println(s"[graft] expectation $n: $v violations / ${row.getAs[Long]("checked")} rows")
    }
    println(s"[graft] analyze complete: $violations total violations")
    violations
  }

  /** Corpus dedup as a product command: near-dup pair generation →
    * connected components → keep each cluster's canonical (min-id) doc.
    * Default pair path is the prefix-filtering join (guaranteed recall —
    * the 100 TB shape); `--exact` switches to the O(n²)-flavored shingle
    * self-join baseline. Writes `<out>/clusters` (doc_id → cluster_id)
    * and `<out>/kept` (the surviving corpus); returns the kept count.
    */
  def dedup(spark: SparkSession, docsPath: String, out: String,
      threshold: Double, exact: Boolean, indexed: Boolean = false): Long = {
    import graft.operators.{DedupIndexStore, TextDedup}
    val store = new ParquetTableStore(spark, out)
    val docs = spark.read.parquet(docsPath)
    val pairs =
      if (exact) TextDedup.jaccardPairs(docs, n = 3, minJaccard = threshold)
      else TextDedup.prefixFilterPairs(docs, n = 3, minJaccard = threshold)
    // clusters + kept publish as ONE journaled group commit: a crash
    // can't leave fresh clusters beside a stale kept corpus
    val clusters = store.stage("clusters", TextDedup.connectedComponents(pairs))
    val drop = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    store.stage("kept", docs.join(drop, Seq("doc_id"), "left_anti"))
    store.commitStaged(Seq("clusters", "kept"))
    // --indexed: persist the prefix index beside the cluster state so
    // every later --incremental --indexed batch is served corpus-free
    // (its own group commit; an index crash never tears clusters/kept)
    if (indexed)
      DedupIndexStore.build(new ParquetTableStore(spark, s"$out/pidx"),
        docs, n = 3, tJac = threshold, tCont = threshold)
    val nTotal = docs.count()
    val nKept = store.read("kept").count()
    println(s"[graft] dedup: $nTotal docs -> $nKept kept " +
      s"(${nTotal - nKept} near-dups dropped, threshold $threshold, " +
      s"${if (exact) "exact" else "prefix-filter"} pair path" +
      s"${if (indexed) ", prefix index persisted" else ""})")
    nKept
  }

  /** Span-level dedup as a product surface (d14/d16's CLI): write the
    * per-doc duplicated-span report (`<out>/spans` — dup_permille over
    * position-level n-token windows) and, with `--scrub`, the rebuilt
    * corpus with every corpus-duplicated window's tokens stripped
    * (`<out>/scrubbed` — n_kept + md5 of the clean text). Both tables
    * publish in one journaled group commit. Returns the report row count.
    */
  def dedupSpans(spark: SparkSession, docsPath: String, out: String,
      n: Int, scrub: Boolean): Long = {
    import graft.operators.TextDedup
    val store = new ParquetTableStore(spark, out)
    val docs = spark.read.parquet(docsPath)
    store.stage("spans", TextDedup.duplicatedSpans(docs, n))
    if (scrub) {
      store.stage("scrubbed", TextDedup.scrubDuplicatedSpans(docs, n))
      store.commitStaged(Seq("spans", "scrubbed"))
    } else store.commitStaged(Seq("spans"))
    val nDocs = store.read("spans").count()
    val nDup = store.read("spans").filter(col("dup_permille") > 0).count()
    println(s"[graft] dedup --spans: $nDocs docs reported, $nDup carry " +
      s"duplicated $n-token windows${if (scrub) ", scrubbed corpus written" else ""}")
    nDocs
  }

  /** Robust anomaly monitoring as a product command: per-user rolling
    * median/MAD flags over an event-series parquet (the w8 semantics —
    * Temporal.robustAnomaly grouped walks, integer micro-unit math).
    * Accepts any of the `ts` physical types the testdata has carried
    * (int64-nanos / timestamp[us]) via Tables.normalizeEventTs. Writes
    * `<out>/flags`; returns the anomaly count. The streaming twin
    * (Temporal.robustAnomalyStream) serves the same semantics
    * continuously.
    */
  def monitor(spark: SparkSession, eventsPath: String, out: String,
      window: Int, minN: Int, cusum: Boolean = false): Long = {
    import graft.operators.Temporal
    import spark.implicits._
    val ev = graft.Tables.normalizeEventTs(spark.read.parquet(eventsPath))
    if (cusum) {
      // volume-drift mode: daily counts per event type through the
      // two-sided CUSUM — catches the sustained shifts the per-point
      // median/MAD rule never trips
      val daily = ev.groupBy(col("event_type").as("key"),
          expr("ts DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("n")).as[Temporal.CountPoint]
      Temporal.cusum(daily).toDF()
        .write.mode("overwrite").parquet(s"$out/changepoints")
      val persisted = spark.read.parquet(s"$out/changepoints")
      val nFlag = persisted.filter(col("changepoint") === 1L).count()
      println(s"[graft] monitor --cusum: ${persisted.count()} key-days, " +
        s"$nFlag changepoint days")
      nFlag
    } else {
      val pts = ev.selectExpr("user_id as key", "ts DIV 1000 as ts",
        "event_id as id", "value").as[Temporal.IdPoint]
      val flags = Temporal.robustAnomaly(pts, window, minN)
      flags.write.mode("overwrite").parquet(s"$out/flags")
      val persisted = spark.read.parquet(s"$out/flags")
      val nAnom = persisted.filter(col("is_anom") === 1).count()
      val n = persisted.count()
      println(s"[graft] monitor: $n points scored, $nAnom anomalies " +
        s"(window $window, min history $minN)")
      nAnom
    }
  }

  /** Vector-index lifecycle as a product surface (the FAISS
    * train-once / add-after-train / query-many deployment shape over
    * VectorIndexStore): `build` trains + persists, `append` encodes a
    * new batch with the FROZEN quantizers (never retrains, never touches
    * existing rows), `query` serves top-k from the stored artifacts.
    */
  def indexBuild(spark: SparkSession, embPath: String, out: String,
      kind: String): Unit = {
    import graft.operators.VectorIndexStore
    val emb = spark.read.parquet(embPath)
    kind match {
      case "ivfpq" => VectorIndexStore.writeIvfPq(out, emb)
      case "ivf"   => VectorIndexStore.writeIvf(out, emb)
      case "pq"    => VectorIndexStore.writePq(out, emb)
      case other   => sys.error(s"unknown index kind $other (pq|ivf|ivfpq)")
    }
    val n = spark.read.parquet(s"$out/codes").count()
    println(s"[graft] index build: $n vectors -> $out ($kind)")
  }

  def indexAppend(spark: SparkSession, embPath: String, out: String): Unit = {
    graft.operators.VectorIndexStore.append(spark, out, spark.read.parquet(embPath))
    val n = spark.read.parquet(s"$out/codes").count()
    println(s"[graft] index append: now $n vectors in $out")
  }

  def indexQuery(spark: SparkSession, queriesPath: String, idx: String,
      resOut: String, k: Int): Long = {
    import graft.operators.VectorIndexStore
    val q = spark.read.parquet(queriesPath)
    val res = VectorIndexStore.kind(idx) match {
      case "ivfpq" => VectorIndexStore.ivfPqTopK(spark, idx, q, k)
      case "ivf"   => VectorIndexStore.ivfTopK(spark, idx, q, k)
      case _       => VectorIndexStore.pqTopK(spark, idx, q, k)
    }
    res.write.mode("overwrite").parquet(resOut)
    val n = spark.read.parquet(resOut).count()
    println(s"[graft] index query: ${n} result rows -> $resOut (k=$k)")
    n
  }

  /** Containment dedup as a product command: drop docs ≥ threshold
    * contained in a LARGER doc (excerpt redundancy the Jaccard cascade
    * misses — tiny union similarity, near-total one-sided overlap).
    * Writes `<out>/containment` (doc_id, n_containers, is_kept) and
    * `<out>/kept`; returns the kept count.
    */
  def dedupContainment(spark: SparkSession, docsPath: String, out: String,
      threshold: Double): Long = {
    import graft.operators.TextDedup
    val docs = spark.read.parquet(docsPath)
    val store = new ParquetTableStore(spark, out)
    val decision = store.stage("containment",
      TextDedup.containmentKeep(docs, n = 3, minContainment = threshold))
    store.stage("kept", docs.join(
      decision.filter(col("is_kept") === 1L).select(col("doc_id")),
      Seq("doc_id")))
    store.commitStaged(Seq("containment", "kept"))
    val nTotal = docs.count()
    val nKept = store.read("kept").count()
    println(s"[graft] dedup --containment: $nTotal docs -> $nKept kept " +
      s"(${nTotal - nKept} excerpts dropped, threshold $threshold)")
    nKept
  }

  /** Incremental containment dedup: `<docs>` is the EXISTING corpus whose
    * `<out>/containment` decisions a prior `dedup --containment` run
    * wrote; `--incremental <path>` is the arriving batch. Only the pair
    * DELTA is generated (corpus postings never self-join) and container
    * counts merge as abelian sums — old docs retro-flip to dropped
    * exactly when a new larger container arrives. Output layout matches
    * the batch command over the union corpus and equals it exactly
    * (AppAndSinksSpec proves two-batch == one-shot).
    */
  def dedupContainmentIncremental(spark: SparkSession, existingPath: String,
      out: String, newPath: String, threshold: Double): Long = {
    import graft.operators.TextDedup
    val store = new ParquetTableStore(spark, out)
    require(store.exists("containment"),
      s"no $out/containment — run batch `dedup --containment` first")
    val existing = spark.read.parquet(existingPath)
    val incoming = spark.read.parquet(newPath)
    // stage both tables, publish as ONE journaled group commit — a crash
    // between the two writes can no longer leave a torn containment/kept
    // pair (ParquetTableStore.recover rolls the group forward on reopen)
    val merged = store.stage("containment", TextDedup.containmentKeepIncremental(
      store.read("containment"), existing, incoming,
      n = 3, minContainment = threshold))
    store.stage("kept", existing.unionByName(incoming).join(
      merged.filter(col("is_kept") === 1L).select(col("doc_id")),
      Seq("doc_id")))
    store.commitStaged(Seq("containment", "kept"))
    val nTotal = existing.count() + incoming.count()
    val nKept = store.read("kept").count()
    println(s"[graft] dedup --containment --incremental: $nTotal docs -> " +
      s"$nKept kept (threshold $threshold, delta-only pair generation)")
    nKept
  }

  /** Incremental dedup for a growing corpus — the product surface over
    * `prefixFilterPairsIncremental` + `ccIncremental`: `<docs>` is the
    * EXISTING corpus whose `<out>/clusters` a prior `dedup` run wrote;
    * `--incremental <path>` is the arriving batch. Only delta pairs are
    * generated (the existing corpus never self-joins again) and cluster
    * labels are merged by contraction, never recomputed from the full
    * pair set. Output layout matches batch `dedup` (clusters + kept over
    * the UNION corpus), and equals it exactly (AppAndSinksSpec proves the
    * two-batch path == one-shot path); writes go through
    * ParquetTableStore's tmp-dir + atomic-swap so `<out>/clusters` is
    * read (prev labels) and replaced (merged labels) safely in one run.
    */
  def dedupIncremental(spark: SparkSession, existingPath: String, out: String,
      newPath: String, threshold: Double, indexed: Boolean = false): Long = {
    import graft.operators.{DedupIndexStore, TextDedup}
    val store = new ParquetTableStore(spark, out)
    require(store.exists("clusters"),
      s"no $out/clusters — run batch `dedup` on the existing corpus first")
    val existing = spark.read.parquet(existingPath)
    val incoming = spark.read.parquet(newPath)
    val prev = store.read("clusters")
    // --indexed: the delta comes from the persisted prefix index (zero
    // corpus-sized work; `dedup --indexed` built it) instead of the
    // from-scratch incremental join. Final pairs are EQUAL either way
    // (frozen-order recall + exact verification), so downstream state
    // is identical — AppAndSinksSpec pins the two paths against each
    // other and against the one-shot.
    val idxStore =
      if (indexed) { val s = new ParquetTableStore(spark, s"$out/pidx")
        require(DedupIndexStore.tables.forall(s.exists),
          s"--indexed needs $out/pidx — run batch `dedup ... --indexed` first")
        Some(s) }
      else None
    val delta = idxStore match {
      case Some(idx) => DedupIndexStore.pairsIncremental(idx, incoming, n = 3, threshold)
      case None => TextDedup.prefixFilterPairsIncremental(
        existing, incoming, n = 3, minJaccard = threshold)
    }
    // clusters + kept publish as ONE journaled group commit (see
    // dedupContainmentIncremental) — no torn pair across a crash
    val merged = store.stage("clusters", TextDedup.ccIncremental(prev, delta))
    val drop = merged.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    store.stage("kept",
      existing.unionByName(incoming).join(drop, Seq("doc_id"), "left_anti"))
    store.commitStaged(Seq("clusters", "kept"))
    // absorb AFTER the state commit: a crash in between replays cleanly
    // (re-merge of the same delta is idempotent; the sets guard skips
    // the already-absorbed case on the other ordering)
    idxStore.foreach(DedupIndexStore.append(_, incoming))
    val nTotal = existing.count() + incoming.count()
    val nKept = store.read("kept").count()
    println(s"[graft] dedup --incremental: $nTotal docs -> $nKept kept " +
      s"(threshold $threshold, " +
      s"${if (indexed) "index-served" else "delta-only"} pair generation)")
    nKept
  }

  /** Persist the prefix/postings dedup index over a corpus — the state a
    * continuous-ingest deployment serves every later batch from with
    * batch-sized work only (DedupIndexStore; all tables publish as one
    * journaled group commit).
    */
  def dedupIdxBuild(spark: SparkSession, docsPath: String, idx: String,
      threshold: Double, cThreshold: Double): Long = {
    import graft.operators.DedupIndexStore
    val store = new ParquetTableStore(spark, idx)
    val docs = spark.read.parquet(docsPath)
    DedupIndexStore.build(store, docs, n = 3, tJac = threshold, tCont = cThreshold)
    val nDocs = store.read("sets").count()
    println(s"[graft] dedupidx build: $nDocs docs indexed " +
      s"(jaccard >= $threshold, containment >= $cThreshold)")
    nDocs
  }

  /** Train a BPE merge list on a corpus and persist it (the tokenizer
    * artifact a training pipeline ships): driver-bounded in-memory loop
    * when the distinct-word table fits (`Bpe.trainMergesAuto` —
    * vocabulary-sized at ANY corpus scale), distributed fallback above
    * the bound. Writes `<out>/merges` (step, l, r, n) atomically.
    */
  def bpeTrain(spark: SparkSession, docsPath: String, out: String,
      nMerges: Int): Long = {
    import spark.implicits._
    val merges = graft.operators.Bpe.trainMergesAuto(
      spark.read.parquet(docsPath), nMerges)
    val store = new ParquetTableStore(spark, out)
    store.overwrite("merges", merges.toDF("step", "l", "r", "n"))
    println(s"[graft] bpe train: ${merges.length} merges -> $out/merges")
    merges.length.toLong
  }

  /** Encode a corpus under a STORED merge list: the distinct-word vocab
    * encodes in memory (one LTR pass per merge per word — nesting
    * thousands of mergePass expressions would explode the plan), docs
    * join the encoded vocab broadcast, per-doc token counts + fertility
    * land at `<out>/fertility`. Train once, encode any corpus after —
    * the frozen-artifact doctrine (quantizers, centroids, merge lists).
    */
  def bpeEncode(spark: SparkSession, docsPath: String, mergesDir: String,
      out: String): Long = {
    import graft.operators.{Bpe, Par, TextDedup}
    import spark.implicits._
    val docs = spark.read.parquet(docsPath)
    val merges = new ParquetTableStore(spark, mergesDir).read("merges")
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val words = Par.fan(docs)
      .select(explode(split(TextDedup.normalizeText(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .distinct().localCheckpoint(true)
    // same driver bound as training: a vocab that fits collects once and
    // encodes in memory; an over-bound vocab encodes distributed in
    // bounded-depth merge chunks — it never lands on the driver
    val enc =
      if (words.count() <= 2000000L)
        Bpe.encodeVocabInMemory(words.as[String].collect(), merges).toSeq
          .toDF("w", "n_tokens_w")
      else Bpe.encodeVocabChunked(words, merges)
    val store = new ParquetTableStore(spark, out)
    store.overwrite("fertility", Bpe.fertilityFrom(docs, enc))
    val n = store.read("fertility").count()
    println(s"[graft] bpe encode: $n docs scored under ${merges.length} stored merges -> $out/fertility")
    n
  }

  /** Compact the index's bucket tables back to ~one file per bucket —
    * the maintenance pass after a run of appends (content unchanged,
    * serve joins stay co-located, readers never see a torn table).
    */
  def dedupIdxCompact(spark: SparkSession, idx: String): Unit = {
    import graft.operators.DedupIndexStore
    val store = new ParquetTableStore(spark, idx)
    DedupIndexStore.compact(store)
    println(s"[graft] dedupidx compact: bucket tables rewritten in $idx")
  }

  /** Serve a batch's near-dup (or containment) pair delta from the
    * stored index and optionally absorb the batch afterwards — the
    * per-batch loop of an indexed dedup deployment: zero corpus-sized
    * work, the index is never rebuilt.
    */
  def dedupIdxServe(spark: SparkSession, batchPath: String, idx: String,
      out: String, threshold: Double, containment: Boolean,
      append: Boolean): Long = {
    import graft.operators.DedupIndexStore
    val store = new ParquetTableStore(spark, idx)
    val outStore = new ParquetTableStore(spark, out)
    val batch = spark.read.parquet(batchPath)
    outStore.overwrite("pairs", DedupIndexStore.serve(store, batch, threshold, containment))
    if (append) DedupIndexStore.append(store, batch)
    val nPairs = outStore.read("pairs").count()
    val kind = if (containment) "containment" else "near-dup"
    println(s"[graft] dedupidx serve: ${batch.count()} batch docs -> " +
      s"$nPairs $kind pair deltas" + (if (append) " (batch absorbed)" else ""))
    nPairs
  }

  /** One wave of the STREAMED export front door (Curation.exportServe)
    * as a product command: the batch is Gopher-gated and split-served
    * against `state`, its canonical train docs join the `admitted`
    * table, assignments land at `<out>/assignments`, and the shard
    * manifest over everything admitted so far is regenerated into the
    * state store's `manifest` table. Re-running on an absorbed batch
    * assigns 0 and leaves the manifest unchanged.
    */
  def exportServe(spark: SparkSession, batchPath: String, state: String,
      out: String, threshold: Double, budget: Long, seqsPerShard: Long): Long = {
    val store = new ParquetTableStore(spark, state)
    val outStore = new ParquetTableStore(spark, out)
    val (n, manifest) = graft.operators.Curation.exportServe(store,
        spark.read.parquet(batchPath), threshold, budget, seqsPerShard) { a =>
      outStore.overwrite("assignments", a)
    }
    if (store.exists("admitted")) store.overwrite("manifest", manifest)
    val nShards = if (store.exists("manifest")) store.read("manifest").count() else 0L
    println(s"[graft] export serve: $n docs assigned, manifest now $nShards shards" +
      (if (n == 0) " (batch already absorbed)" else ""))
    n
  }

  /** One wave of the split-assignment service (Curation.splitServe) as a
    * product command: assignments land at <out>/assignments, the state
    * store absorbs the batch. Re-running on an absorbed batch is a no-op
    * (prints 0 assigned) — the stream twin's exactly-once contract.
    */
  def splitServe(spark: SparkSession, batchPath: String, state: String,
      out: String, threshold: Double): Long = {
    val store = new ParquetTableStore(spark, state)
    val outStore = new ParquetTableStore(spark, out)
    val n = graft.operators.Curation.splitServe(store,
        spark.read.parquet(batchPath), threshold) { assigned =>
      outStore.overwrite("assignments", assigned)
    }
    println(s"[graft] split serve: $n docs assigned" +
      (if (n == 0) " (batch already absorbed)" else ""))
    n
  }

  /** Persist the suffix-key state for incremental exact-substring dedup
    * (SuffixIndexStore): build once over the corpus, then every arriving
    * batch's maximal duplicated-span report is batch-shaped work.
    */
  def suffixIdxBuild(spark: SparkSession, docsPath: String, idx: String,
      minLen: Int, maxLen: Int): Long = {
    import graft.operators.SuffixIndexStore
    val store = new ParquetTableStore(spark, idx)
    SuffixIndexStore.build(store, spark.read.parquet(docsPath), minLen, maxLen)
    val nKeys = store.read("suffix").count()
    println(s"[graft] suffixidx build: $nKeys distinct suffix keys " +
      s"(minLen=$minLen, maxLen=$maxLen)")
    nKeys
  }

  /** Serve a batch's maximal duplicated-span lengths from the stored
    * suffix state and optionally absorb the batch — the per-batch loop
    * of an exact-substring dedup deployment (caps come from the store's
    * frozen meta, never from the caller).
    */
  def suffixIdxServe(spark: SparkSession, batchPath: String, idx: String,
      out: String, scrub: Boolean, append: Boolean): Long = {
    import graft.operators.SuffixIndexStore
    val store = new ParquetTableStore(spark, idx)
    val outStore = new ParquetTableStore(spark, out)
    val batch = spark.read.parquet(batchPath)
    val (table, df) =
      if (scrub) ("clean", SuffixIndexStore.scrubServed(store, batch))
      else ("spans", SuffixIndexStore.servedSpans(store, batch))
    outStore.overwrite(table, df)
    if (append) SuffixIndexStore.append(store, batch)
    val n = outStore.read(table).count()
    println(s"[graft] suffixidx serve: ${batch.count()} batch docs -> " +
      (if (scrub) s"$n scrubbed docs" else s"$n duplicated-span positions") +
      (if (append) " (batch absorbed)" else ""))
    n
  }

  /** Persist the perceptual-hash band index over a media corpus (docs
    * parquet read as opaque payloads) — incremental media near-dup's
    * stored state (MediaIndexStore).
    */
  def mediaIdxBuild(spark: SparkSession, docsPath: String, idx: String,
      maxHamming: Int): Long = {
    import graft.multimodal.{Media, MediaIndexStore}
    val store = new ParquetTableStore(spark, idx)
    val sig = Media.perceptualHash(
      Media.documentsAsMedia(spark, spark.read.parquet(docsPath))).toDF()
    MediaIndexStore.build(store, sig, maxHamming)
    val n = store.read("bands").count() / 8
    println(s"[graft] mediaidx build: $n media files indexed (hamming <= $maxHamming)")
    n
  }

  /** Serve a media batch's near-dup pair delta from the stored band
    * index; --append absorbs the batch (re-serve stays idempotent via
    * the media_id guard).
    */
  def mediaIdxServe(spark: SparkSession, batchPath: String, idx: String,
      out: String, append: Boolean): Long = {
    import graft.multimodal.{Media, MediaIndexStore}
    val store = new ParquetTableStore(spark, idx)
    val outStore = new ParquetTableStore(spark, out)
    val sig = Media.perceptualHash(
      Media.documentsAsMedia(spark, spark.read.parquet(batchPath))).toDF()
    outStore.overwrite("pairs", MediaIndexStore.pairsIncremental(store, sig))
    if (append) MediaIndexStore.append(store, sig)
    val n = outStore.read("pairs").count()
    println(s"[graft] mediaidx serve: -> $n near-dup pair deltas" +
      (if (append) " (batch absorbed)" else ""))
    n
  }

  /** Semantic dedup as a product command (SemDeDup over an embedding
    * corpus): cell-bounded cosine clusters → keep each cluster's
    * canonical. Writes `<out>/clusters` (vec_id, cell, cluster_id,
    * kept), `<out>/centroids` (the FROZEN cell quantizer later
    * incremental batches assign with), and `<out>/kept`.
    */
  def semdedup(spark: SparkSession, embPath: String, out: String,
      threshold: Double, centroidsPath: Option[String] = None): Long = {
    import graft.operators.{Similarity, TextDedup}
    import spark.implicits._
    val store = new ParquetTableStore(spark, out)
    val emb = spark.read.parquet(embPath)
    // `--centroids`: build under a FROZEN quantizer from a central train
    // (`semdedup train`) or an existing store — the shard-build face of
    // the distributed protocol (every shard assigns into the SAME cells,
    // which is what makes `semdedup merge` exact)
    val cents = centroidsPath.map(readCentroids(spark, _))
      .getOrElse(Similarity.labelCentroids(emb))
    // centroids + assigned + pair graph + clusters + corpus + kept publish
    // as ONE journaled group commit: the frozen quantizer and the labels
    // it produced can never tear. `assigned`/`pairs`/`corpus` are what
    // make `semdedup retract` state-only (no corpus re-read, no cosine
    // re-score — the DedupIndexStore `sets` doctrine).
    store.stage("centroids",
      cents.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "cent"))
    val assigned = store.stage("assigned", Similarity.assignCells(emb, cents))
    val pairs = store.stage("pairs",
      Similarity.semanticPairs(assigned, assigned, threshold))
    val clusters = store.stage("clusters",
      Similarity.clustersFrom(assigned, TextDedup.connectedComponents(pairs)))
    val drop = clusters.filter(col("kept") === 0L).select(col("vec_id"))
    store.stage("corpus", emb)
    store.stage("kept", emb.join(drop, Seq("vec_id"), "left_anti"))
    store.commitStaged(Seq("centroids", "assigned", "pairs", "clusters",
      "corpus", "kept"))
    val nTotal = emb.count(); val nKept = store.read("kept").count()
    println(s"[graft] semdedup: $nTotal vectors -> $nKept kept " +
      s"(${nTotal - nKept} semantic dups dropped, threshold $threshold)")
    nKept
  }

  /** Incremental semantic dedup: a new embedding batch assigns into the
    * STORED frozen cells (the quantizer never retrains — the index
    * stores' add-after-train doctrine), scores only new×new +
    * new×existing pairs, and merges the delta into the stored labels.
    * N-batch composition equals the one-shot under the frozen cells
    * (AppAndSinksSpec proves two batches == the incremental API in one).
    */
  def semdedupIncremental(spark: SparkSession, existingPath: String,
      out: String, newPath: String, threshold: Double): Long = {
    import graft.operators.{Similarity, TextDedup}
    val store = new ParquetTableStore(spark, out)
    require(Seq("clusters", "centroids", "assigned", "pairs", "corpus")
        .forall(store.exists),
      s"no complete semdedup state at $out — run batch `semdedup` on the " +
        "existing corpus first (older pairs-less stores need a one-time rebuild)")
    val existing = spark.read.parquet(existingPath)
    val incoming = spark.read.parquet(newPath)
    val cents = store.read("centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val prev = store.read("clusters")
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    // the batch assigns into the FROZEN cells; only new×new + new×old
    // pairs are scored (the existing corpus never self-joins again), and
    // the accumulated `pairs` table stays exactly "all within-cell pairs
    // under the frozen cells" — the invariant that makes N-batch
    // composition equal the one-shot AND keeps retraction exact
    val oldA = store.read("assigned")
    val freshA = Similarity.assignCells(incoming, cents)
    val allA = store.stage("assigned", oldA.unionByName(freshA))
    val delta = Similarity.semanticPairs(freshA, freshA, threshold)
      .unionByName(Similarity.semanticPairs(freshA, oldA, threshold,
        lowerOnly = false))
      .dropDuplicates("id_a", "id_b")
    store.stage("pairs", store.read("pairs").unionByName(delta)
      .dropDuplicates("id_a", "id_b"))
    val clusters = store.stage("clusters",
      Similarity.clustersFrom(allA,
        TextDedup.ccIncremental(prev, delta)
          .select(col("doc_id"), col("cluster_id"))))
    val drop = clusters.filter(col("kept") === 0L).select(col("vec_id"))
    val corpus = store.stage("corpus",
      store.read("corpus").unionByName(incoming))
    store.stage("kept", corpus.join(drop, Seq("vec_id"), "left_anti"))
    // one journaled group commit — no torn state
    store.commitStaged(Seq("assigned", "pairs", "clusters", "corpus", "kept"))
    val nTotal = existing.count() + incoming.count()
    val nKept = store.read("kept").count()
    println(s"[graft] semdedup --incremental: $nTotal vectors -> $nKept kept " +
      s"(threshold $threshold, frozen cells, delta-only pair scoring)")
    nKept
  }

  /** Takedown for the semantic-dedup state — `Similarity.semanticRetract`
    * doctrine over the CLI store's table names: assigned/pairs anti-join,
    * labels re-closed over the remaining pair graph (full CC — retraction
    * can SPLIT clusters, which the incremental closure can't express),
    * corpus/kept re-derived, frozen centroids untouched (aggregate
    * statistics of the training corpus; strict-forget = retrain). The
    * retracted store equals a fresh batch build over the remaining
    * corpus under these frozen cells, table by table (spec-pinned).
    */
  def semdedupRetract(spark: SparkSession, out: String, idsPath: String): Long = {
    import graft.operators.{Similarity, TextDedup}
    val store = new ParquetTableStore(spark, out)
    require(Seq("clusters", "centroids", "assigned", "pairs", "corpus")
        .forall(store.exists),
      s"no complete semdedup state at $out — run batch `semdedup` first")
    val vids = spark.read.parquet(idsPath).select(col("vec_id"))
    val assigned = store.stage("assigned",
      store.read("assigned").join(vids, Seq("vec_id"), "left_anti"))
    val pairs = store.stage("pairs",
      store.read("pairs")
        .join(vids.select(col("vec_id").as("id_a")), Seq("id_a"), "left_anti")
        .join(vids.select(col("vec_id").as("id_b")), Seq("id_b"), "left_anti")
        // the using-column joins moved id_b to the front — restore the
        // (id_a, id_b) schema the build wrote
        .select(col("id_a"), col("id_b")))
    val clusters = store.stage("clusters",
      Similarity.clustersFrom(assigned, TextDedup.connectedComponents(pairs)))
    val drop = clusters.filter(col("kept") === 0L).select(col("vec_id"))
    val corpus = store.stage("corpus",
      store.read("corpus").join(vids, Seq("vec_id"), "left_anti"))
    store.stage("kept", corpus.join(drop, Seq("vec_id"), "left_anti"))
    store.commitStaged(Seq("assigned", "pairs", "clusters", "corpus", "kept"))
    val nKept = store.read("kept").count()
    println(s"[graft] semdedup retract: ids in $idsPath forgotten " +
      s"($nKept vectors kept; frozen cells retained)")
    nKept
  }

  /** Central quantizer train — step one of the distributed semdedup
    * protocol: ONE narrow decimal-sum pass over the full corpus (layout-
    * free — `labelCentroids` sums are order-exact), written as a
    * centroids-only store that every shard build then freezes against
    * (`semdedup <shard> <out_i> --centroids <this>`). The corpus-sized
    * assignment/pair work never runs here — that is the point: it
    * distributes across the shard builds.
    */
  def semdedupTrain(spark: SparkSession, embPath: String, out: String): Int = {
    import graft.operators.Similarity
    import spark.implicits._
    val store = new ParquetTableStore(spark, out)
    val cents = Similarity.labelCentroids(spark.read.parquet(embPath))
    store.stage("centroids",
      cents.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "cent"))
    store.commitStaged(Seq("centroids"))
    println(s"[graft] semdedup train: ${cents.length} cell centroids -> $out")
    cents.length
  }

  /** The frozen quantizer from a semdedup store (its `centroids` table)
    * or a raw (cell, cent) parquet — collected, KB-sized.
    */
  private def readCentroids(spark: SparkSession,
      path: String): Array[(Int, Array[Double])] = {
    val st = new ParquetTableStore(spark, path)
    val df = if (st.exists("centroids")) st.read("centroids")
      else spark.read.parquet(path)
    df.collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
  }

  /** Fold `src`'s semdedup state into `dst` — `Similarity.semanticMerge`
    * doctrine over the CLI store's table names: quantizers must be
    * IDENTICAL (shards assigned into different cells have incomparable
    * pair semantics — build shards with `--centroids` from one
    * `semdedup train`), `assigned`/`corpus` union, `pairs` gains the
    * CROSS-shard within-cell qualifying pairs neither shard could see
    * (still cell-bounded), labels merge through the delta-sized
    * incremental closure (a merge only ever JOINS clusters), and
    * `kept` re-derives. One journaled group commit; `src` read-only.
    * The merged store equals a one-shot batch build over the union
    * under the shared quantizer (AppAndSinksSpec pins it table by
    * table). `--threshold` is the build threshold — same caller
    * contract as `--incremental`.
    */
  def semdedupMerge(spark: SparkSession, dstPath: String, srcPath: String,
      threshold: Double): Long = {
    import graft.operators.{Similarity, TextDedup}
    val dst = new ParquetTableStore(spark, dstPath)
    val src = new ParquetTableStore(spark, srcPath)
    val all = Seq("clusters", "centroids", "assigned", "pairs", "corpus")
    require(all.forall(dst.exists),
      s"no complete semdedup state at $dstPath — run batch `semdedup` first")
    require(all.forall(src.exists),
      s"no complete semdedup state at $srcPath — run batch `semdedup` first")
    val cd = readCentroids(spark, dstPath)
    val cs = readCentroids(spark, srcPath)
    require(cd.length == cs.length && cd.zip(cs).forall {
        case ((ca, va), (cb, vb)) => ca == cb && java.util.Arrays.equals(va, vb)
      },
      s"semdedup merge needs an identical frozen quantizer (dst ${cd.length} " +
        s"cells vs src ${cs.length}) — build both shards with --centroids " +
        "from one `semdedup train`")
    val dstA = dst.read("assigned")
    val srcA = src.read("assigned")
    val assigned = dst.stage("assigned",
      dstA.unionByName(srcA).dropDuplicates("vec_id"))
    val cross = Similarity.semanticPairs(dstA, srcA, threshold,
      lowerOnly = false)
    val delta = src.read("pairs").unionByName(cross)
      .dropDuplicates("id_a", "id_b")
    dst.stage("pairs",
      dst.read("pairs").unionByName(delta).dropDuplicates("id_a", "id_b")
        .select(col("id_a"), col("id_b")))
    val prev = dst.read("clusters")
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    val clusters = dst.stage("clusters",
      Similarity.clustersFrom(assigned,
        TextDedup.ccIncremental(prev, delta)
          .select(col("doc_id"), col("cluster_id"))))
    val drop = clusters.filter(col("kept") === 0L).select(col("vec_id"))
    val corpus = dst.stage("corpus",
      dst.read("corpus").unionByName(src.read("corpus"))
        .dropDuplicates("vec_id"))
    dst.stage("kept", corpus.join(drop, Seq("vec_id"), "left_anti"))
    dst.commitStaged(Seq("assigned", "pairs", "clusters", "corpus", "kept"))
    val nKept = dst.read("kept").count()
    println(s"[graft] semdedup merge: $srcPath folded into $dstPath " +
      s"($nKept vectors kept, threshold $threshold)")
    nKept
  }

  /** Materialize training shards — the pipeline's terminal stage: pack
    * docs into fixed-token sequences (t7's chunked cumulative sums),
    * group sequences into shards, write each shard as ONE deterministic
    * JSONL file (`<out>/shards/shard_id=N/` — repartition on shard_id
    * gives one file per shard, sortWithinPartitions fixes the row order,
    * so reruns are byte-identical) plus the e2e11 manifest (counts + an
    * md5 over the ordered doc ids) through the atomic store. A trainer
    * validates the manifest before reading a byte; `spark.read.json`
    * round-trips the shards.
    */
  def exportShards(spark: SparkSession, docsPath: String, out: String,
      budget: Long, seqsPerShard: Long): Long = {
    import graft.operators.{GlobalOrder, Par, TextStats}
    val docs = spark.read.parquet(docsPath)
    val toks = Par.fan(docs).select(col("doc_id"), col("text"),
      TextStats.wsTokenCount(col("text")).cast("long").as("n_tokens"))
    val packed = GlobalOrder.cumSum(toks, col("doc_id"), col("n_tokens"))
      .withColumn("seq_id", expr(s"(cum - n_tokens) DIV $budget"))
      .withColumn("shard_id", expr(s"seq_id DIV $seqsPerShard"))
    packed.repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("doc_id"))
      .select(col("shard_id"), to_json(struct(col("doc_id"), col("seq_id"),
        col("n_tokens"), col("text"))).as("value"))
      .write.mode("overwrite").partitionBy("shard_id").text(s"$out/shards")
    val store = new ParquetTableStore(spark, out)
    store.overwrite("manifest", packed.groupBy(col("shard_id"))
      .agg(countDistinct(col("seq_id")).as("n_seqs"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws(",", transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")))).as("content_md5")))
    val m = store.read("manifest")
    val nShards = m.count()
    val nDocs = m.agg(sum(col("n_docs"))).head().getLong(0)
    println(s"[graft] export: $nDocs docs -> $nShards shards " +
      s"(budget $budget tok/seq, $seqsPerShard seq/shard) -> $out")
    nShards
  }

  /** Embedding-space decontamination as a product command: persist the
    * benchmark set + threshold as FROZEN artifacts (the quantizer
    * doctrine applied to an eval set — it must never drift between
    * batches or the flags stop being comparable), score the corpus
    * against it, write `<out>/flags` (vec_id, max_cos, contaminated).
    * benchmark + meta + flags publish as one journaled group commit.
    */
  def decon(spark: SparkSession, embPath: String, out: String,
      benchPath: String, threshold: Double): Long = {
    import graft.operators.Similarity
    import spark.implicits._
    val store = new ParquetTableStore(spark, out)
    val benchDf = spark.read.parquet(benchPath)
    val bench = Similarity.collectBenchmark(benchDf)
    store.stage("benchmark", benchDf)
    store.stage("meta", Seq(Tuple1(threshold)).toDF("threshold"))
    store.stage("flags", Similarity.semanticContamination(
      spark.read.parquet(embPath), bench, threshold))
    store.commitStaged(Seq("benchmark", "meta", "flags"))
    val n = store.read("flags").count()
    val nFlagged = store.read("flags").filter(col("contaminated") === 1L).count()
    println(s"[graft] decon: $n vectors scored against ${bench.length} benchmark " +
      s"vectors -> $nFlagged flagged (threshold $threshold)")
    nFlagged
  }

  /** Score ONLY an arriving batch against the STORED benchmark and
    * threshold — per-batch cost is batch-sized (one narrow pass; the
    * benchmark artifact is KB), and N batches compose to the one-shot
    * because the score is per-row under frozen inputs. Replay-guarded
    * by an anti-join on already-flagged vec_ids, so a re-run batch is a
    * no-op.
    */
  def deconIncremental(spark: SparkSession, newPath: String, out: String): Long = {
    import graft.operators.Similarity
    val store = new ParquetTableStore(spark, out)
    require(store.exists("benchmark") && store.exists("meta"),
      s"no $out/benchmark+meta — run batch `decon --benchmark` first")
    val threshold = store.read("meta").head().getDouble(0)
    val bench = Similarity.collectBenchmark(store.read("benchmark"))
    val fresh = spark.read.parquet(newPath).dropDuplicates("vec_id")
      .join(store.read("flags").select(col("vec_id")), Seq("vec_id"), "left_anti")
      .localCheckpoint(true) // pin the guard's verdict before flags move
    store.append("flags", Similarity.semanticContamination(fresh, bench, threshold))
    val nFlagged = store.read("flags").filter(col("contaminated") === 1L).count()
    println(s"[graft] decon --incremental: batch scored under frozen benchmark " +
      s"(threshold $threshold) -> $nFlagged total flagged")
    nFlagged
  }

  /** Train the trigram quality LM and persist it as parquet artifacts
    * (trigrams/contexts/vocab — the VectorIndexStore doctrine: the model
    * is tables, never driver state).
    */
  def qualityTrain(spark: SparkSession, docsPath: String, modelDir: String): Unit = {
    import graft.operators.TextQuality
    val m = TextQuality.lmTrain(spark.read.parquet(docsPath))
    m.trigrams.write.mode("overwrite").parquet(s"$modelDir/trigrams")
    m.contexts.write.mode("overwrite").parquet(s"$modelDir/contexts")
    m.vocab.write.mode("overwrite").parquet(s"$modelDir/vocab")
    val n = spark.read.parquet(s"$modelDir/trigrams").count()
    println(s"[graft] quality train: $n distinct trigrams -> $modelDir")
  }

  /** Score a batch under a stored frozen LM — the per-batch gate a
    * deployment runs on every incoming slice of corpus.
    */
  def qualityScore(spark: SparkSession, docsPath: String, modelDir: String,
      out: String, gate: Option[Long] = None): Long = {
    import graft.operators.TextQuality
    val m = TextQuality.LmModel(
      spark.read.parquet(s"$modelDir/trigrams"),
      spark.read.parquet(s"$modelDir/contexts"),
      spark.read.parquet(s"$modelDir/vocab"))
    val docs = spark.read.parquet(docsPath)
    val scored = TextQuality.lmScoreWith(m, docs)
    scored.write.mode("overwrite").parquet(s"$out/scores")
    // --gate <maxMicroNats>: also write the kept corpus — docs whose
    // cross-entropy clears the perplexity gate (semi-join keeps the
    // original columns; scores are doc-grain so no duplication)
    gate.foreach { g =>
      docs.join(spark.read.parquet(s"$out/scores")
          .filter(col("avg_nlp_micro") <= g).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"$out/kept")
    }
    val n = spark.read.parquet(s"$out/scores").count()
    val kept = gate.map(_ => spark.read.parquet(s"$out/kept").count())
    println(s"[graft] quality score: $n docs scored under $modelDir -> $out" +
      kept.map(k => s" ($k kept under gate ${gate.get})").getOrElse(""))
    n
  }

  /** One-shot: train on the corpus and score it (t15's surface). */
  def qualityBatch(spark: SparkSession, docsPath: String, out: String): Long = {
    import graft.operators.TextQuality
    val scored = TextQuality.lmScore(spark.read.parquet(docsPath))
    scored.write.mode("overwrite").parquet(out)
    val n = spark.read.parquet(out).count()
    println(s"[graft] quality: $n docs scored (corpus-trained LM) -> $out")
    n
  }

  /** The composed CCNet-style curation pipeline: exact-dedup keep →
    * lang-id → LM perplexity terciles → per-tercile keep-rates. Writes
    * the kept corpus + the per-(lang, tercile) report. With `--pii`, the
    * kept text is additionally scrubbed (emails/IPv4/phones masked —
    * Curation.scrubPii) before landing, and per-category redaction
    * counts ride along in the kept table.
    */
  def curate(spark: SparkSession, docsPath: String, out: String,
      rates: (Long, Long, Long), pii: Boolean = false): Long = {
    import graft.operators.{Curation, TextQuality}
    val kept0 = TextQuality.ccnetCurate(spark.read.parquet(docsPath), rates)
    val kept = if (!pii) kept0 else Curation.scrubPii(kept0)
      .withColumn("text", col("text_scrubbed")).drop("text_scrubbed")
    kept.write.mode("overwrite").parquet(s"$out/kept")
    spark.read.parquet(s"$out/kept")
      .groupBy(col("pred_lang"), col("bucket"))
      .agg(count(lit(1)).as("n_kept"))
      .write.mode("overwrite").parquet(s"$out/report")
    val n = spark.read.parquet(s"$out/kept").count()
    println(s"[graft] curate: $n docs kept (rates ${rates._1}/${rates._2}/${rates._3} permille) -> $out")
    n
  }

  /** Build the BM25 inverted index (postings + stats parquet). */
  def searchBuild(spark: SparkSession, docsPath: String, idx: String): Unit = {
    import graft.operators.TextIndexStore
    TextIndexStore.write(idx, spark.read.parquet(docsPath))
    val n = spark.read.parquet(s"$idx/postings").count()
    println(s"[graft] search build: $n postings -> $idx")
  }

  /** Append a doc batch to the index — row-append + exact stats bump. */
  def searchAppend(spark: SparkSession, docsPath: String, idx: String): Unit = {
    import graft.operators.TextIndexStore
    TextIndexStore.append(spark, idx, spark.read.parquet(docsPath))
    val n = spark.read.parquet(s"$idx/postings").count()
    println(s"[graft] search append: now $n postings in $idx")
  }

  /** BM25 top-k from the stored index; with `mmrPage` set, the top-k
    * becomes the candidate POOL and an MMR greedy (λ=0.7) picks a
    * diversified page — redundancy measured as term-set Jaccard from
    * the index's own postings (whole-doc profiles, not just the query
    * terms). Pool and sims are page-scale, so the rerank adds only
    * fixed single-task steps on top of the BM25 scan.
    */
  def searchQuery(spark: SparkSession, idx: String, out: String,
      terms: Seq[String], k: Int, mmrPage: Option[Int] = None): Long = {
    import graft.operators.{Mmr, TextIndexStore}
    val top = TextIndexStore.search(spark, idx, terms, k)
    val res = mmrPage match {
      case None => top
      case Some(page) =>
        // bm25 is a DECIMAL(18,6) rendered as double — ×1e6 recovers the
        // micro integer, but the double PRODUCT can land one ulp below it
        // (0.29×1e6 = 289999.999…), so round before the long cast: a
        // truncation there would perturb rel_micro by one and could swap
        // adjacent MMR candidates across engines
        val cands = top.select(lit(0L).as("query_id"),
            col("doc_id").as("cand_id"),
            round(col("bm25") * 1e6).cast("long").as("rel_micro"))
          .coalesce(1).localCheckpoint(true)
        val post = spark.read.parquet(s"$idx/postings")
          .join(broadcast(cands.select(col("cand_id").as("doc_id"))), Seq("doc_id"))
          .select(col("doc_id"), col("term")).distinct()
          .coalesce(1).localCheckpoint(true)
        val cnt = post.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val sims = post.as("a")
          .join(post.as("b"), col("a.term") === col("b.term") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("c"))
          .join(cnt.toDF("id_a", "na"), Seq("id_a"))
          .join(cnt.toDF("id_b", "nb"), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            floor(col("c").cast("double") * 1000000d /
              (col("na") + col("nb") - col("c")).cast("double"))
              .cast("long").as("sim_micro"))
        Mmr.rerank(cands, sims, page, lambdaMilli = 700L)
          .select(col("step"), col("cand_id").as("doc_id"),
            col("rel_micro"), col("maxsim_micro"), col("mmr_score"))
    }
    res.write.mode("overwrite").parquet(out)
    val n = spark.read.parquet(out).count()
    val mode = mmrPage.fold(s"top-$n of k=$k")(p => s"MMR page $n of pool k=$k")
    println(s"[graft] search query: $mode for [${terms.mkString(",")}] -> $out")
    n
  }
}
