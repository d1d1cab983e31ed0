package graft

import graft.ingest.MergeApply
import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Steady-state CDC write amplification: after a bulk load, how much of the
  * table does a small update batch rewrite? This is the metric file-level
  * key-range manifests exist for — bucket-granularity COW rewrites every
  * touched bucket (≈ the whole table once a batch touches ≥1 key per bucket);
  * file-granularity rewrites only the files whose key range contains a
  * touched key.
  *
  * Prints one line per batch and a JSON summary; evidence recorded in
  * BENCH/BASELINE.md.
  */
object IncrementalBench {
  def main(args: Array[String]): Unit = {
    val nBase = if (args.nonEmpty) args(0).toLong else 2000000L
    val keysPerBatch = if (args.length > 1) args(1).toInt else 20
    val nBatches = if (args.length > 2) args(2).toInt else 10
    val spark = graft.app.Main.session("graft-incr")

    def delta(ids: Seq[Long], op: String, seqBase: Long): DataFrame = {
      import spark.implicits._
      ids.toDF("id").select(
        concat(lit("org/repo-"), col("id") % 4096).as("repo"),
        concat(lit("src/f"), col("id"), lit(".scala")).as("path"),
        lit(op).as("op"),
        (col("id") + seqBase).as("seq"),
        struct(
          concat(lit("org/repo-"), col("id") % 4096).as("repo"),
          concat(lit("src/f"), col("id"), lit(".scala")).as("path"),
          lit("c0").as("commit"),
          lit("scala").as("lang"),
          concat(lit("content-"), col("id"), lit("-"), lit(seqBase),
            lit("x" * 120)).as("content")).as("after"))
    }

    val work = java.nio.file.Files.createTempDirectory("graft-incr").toString
    // targetFileRows sized so each bucket holds ~8 files (the pruning unit)
    val table = LakeTable.create(spark, s"$work/t", numBuckets = 64,
      targetFileRows = math.max(1024L, nBase / 64 / 8))
    val t0 = System.nanoTime()
    MergeApply.merge(table, delta(0L until nBase, "insert", 0L), Map.empty)
    println(f"[incr] bulk load $nBase rows in ${(System.nanoTime() - t0) / 1e9}%.1f s; " +
      s"files=${table.snapshot.files.size}")
    val totalFiles = table.snapshot.files.size
    val totalRows = table.snapshot.totalRows

    val rnd = new scala.util.Random(7)
    var fSum = 0L; var rowSum = 0L; var secSum = 0.0
    (1 to nBatches).foreach { b =>
      // distinct: a duplicate key would violate MergeApply's one-row-per-key
      // delta contract (a base row matching two identical broadcast delta
      // rows is emitted twice)
      val keys = Iterator.continually(math.abs(rnd.nextLong()) % nBase)
        .distinct.take(keysPerBatch).toSeq
      val snapBefore = table.snapshot
      val t1 = System.nanoTime()
      val r = MergeApply.merge(table, delta(keys, "update", nBase * (b + 1)), Map.empty)
      val sec = (System.nanoTime() - t1) / 1e9
      val rewrittenRows = snapBefore.files.filterNot(f =>
        table.snapshot.files.exists(_.path == f.path)).map(_.rows).sum
      fSum += r.filesRewritten; rowSum += rewrittenRows; secSum += sec
      println(f"[incr] batch $b%2d: keys=$keysPerBatch filesRewritten=${r.filesRewritten}%3d/" +
        f"$totalFiles rowsRewritten=$rewrittenRows%7d/$totalRows sec=$sec%5.2f")
    }
    // ---- change feed: serving a window must cost O(window), not O(table).
    // Counterfactual: the same net-change classification computed by
    // full-outer-diffing two COMPLETE snapshot reads (what a consumer
    // without manifest-diff candidates + hkey pruning would pay).
    def timedSec(body: => Unit): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    val vHead = table.snapshot.version
    var feedRows = 0L
    var feedStats: graft.lake.ChangeFeed.FeedStats = null
    val feedLastSec = timedSec {
      val (df, st) = graft.lake.ChangeFeed.changesBetweenWithStats(table, vHead - 1, vHead)
      feedStats = st; feedRows = df.count()
    }
    val feedAllSec = timedSec {
      graft.lake.ChangeFeed.changesBetween(table, 1, vHead).count(); ()
    }
    val blindDiffSec = timedSec {
      val o = table.readInternal(table.snapshotAt(vHead - 1),
        table.snapshotAt(vHead - 1).files)
        .select(col("repo"), col("path"), col("_seq").as("oseq")).alias("o")
      val n = table.readInternal(table.snapshot, table.snapshot.files)
        .select(col("repo"), col("path"), col("_seq").as("nseq")).alias("n")
      o.join(n, Seq("repo", "path"), "full_outer")
        .filter(col("oseq").isNull || col("nseq").isNull || col("oseq") =!= col("nseq"))
        .count(); ()
    }
    println(f"[incr] change feed: last-batch window $feedLastSec%5.2f s " +
      f"($feedRows changes of $totalRows rows; read ${feedStats.rowsInScope} rows in " +
      f"${feedStats.oldFilesRead + feedStats.newFilesRead} files = " +
      f"${feedStats.scanFraction * 100}%.1f%% of a both-sides scan), " +
      f"all-batches window $feedAllSec%5.2f s, " +
      f"blind full-diff $blindDiffSec%5.2f s (time ratio ${feedLastSec / blindDiffSec}%.3f)")

    // ---- chained table: bootstrap once (O(state)), then follow a 20-key
    // window (O(window)) — the derived-table steady-state cost
    val chainDst = LakeTable.create(spark, s"$work/chain", numBuckets = 64,
      targetFileRows = math.max(1024L, nBase / 64 / 8))
    val chainBootstrapSec = timedSec {
      graft.ingest.ChainApply.sync(table, chainDst); ()
    }
    val chainKeys = Iterator.continually(math.abs(rnd.nextLong()) % nBase)
      .distinct.take(keysPerBatch).toSeq
    MergeApply.merge(table, delta(chainKeys, "update", nBase * 99), Map.empty)
    var chainApplied = 0L
    val chainIncrSec = timedSec {
      chainApplied = graft.ingest.ChainApply.sync(table, chainDst).applied
    }
    require(chainApplied >= keysPerBatch.toLong,
      s"chain window applied $chainApplied < $keysPerBatch")
    println(f"[incr] chained table: bootstrap $chainBootstrapSec%5.2f s " +
      f"($nBase rows), incremental window $chainIncrSec%5.2f s " +
      f"($chainApplied changes applied)")

    // ---- merge-on-read: the SAME batches as delta appends + one fold ----
    // Steady-state write cost: COW pays O(files whose key range is hit) per
    // batch; MOR pays O(batch) per batch and defers the rewrite to one fold.
    val morTable = LakeTable.create(spark, s"$work/m", numBuckets = 64,
      targetFileRows = math.max(1024L, nBase / 64 / 8))
    MergeApply.merge(morTable, delta(0L until nBase, "insert", 0L), Map.empty)
    val rnd2 = new scala.util.Random(7) // same key sequence as the COW phase
    var morSecSum = 0.0; var morRowsSum = 0L
    (1 to nBatches).foreach { b =>
      val keys = Iterator.continually(math.abs(rnd2.nextLong()) % nBase)
        .distinct.take(keysPerBatch).toSeq
      val t1 = System.nanoTime()
      val r = MergeApply.appendDelta(morTable, delta(keys, "update", nBase * (b + 1)), Map.empty)
      morSecSum += (System.nanoTime() - t1) / 1e9
      morRowsSum += r.eventsApplied
    }
    val tRead = System.nanoTime()
    val morLive = morTable.read().count()
    val morReadSec = (System.nanoTime() - tRead) / 1e9
    val tFold = System.nanoTime()
    graft.ingest.Mor.fold(morTable)
    val foldSec = (System.nanoTime() - tFold) / 1e9
    require(morLive == nBase, s"MOR resolution row count $morLive != $nBase")
    println(f"[incr] MOR: avg append ${morSecSum / nBatches}%5.2f s/batch " +
      f"(rows appended/batch=$keysPerBatch), resolve-read $morReadSec%5.2f s, " +
      f"fold $foldSec%5.2f s")

    // ---- partial fold: fold cost must be ∝ touched-bucket fraction ----
    // Same base size, two equal-size backlogs: one confined to a single
    // bucket (a partial fold touches 1/64 of the base), one scattered
    // uniformly (an unconditional fold rewrites ~the whole base). The ratio
    // is the O(touched)-vs-O(table) evidence for cadence folds at 100 TB.
    val pt = LakeTable.create(spark, s"$work/p", numBuckets = 64,
      targetFileRows = math.max(1024L, nBase / 64 / 8))
    MergeApply.merge(pt, delta(0L until nBase, "insert", 0L), Map.empty)
    val backlogN = math.min(keysPerBatch.toLong * nBatches, nBase / 64).toInt
    val oneBucketKeys = spark.range(nBase)
      .withColumn("b", pmod(hash(concat(lit("org/repo-"), col("id") % 4096),
        concat(lit("src/f"), col("id"), lit(".scala"))), lit(64)))
      .filter(col("b") === 0).limit(backlogN)
      .collect().map(_.getLong(0)).toSeq
    MergeApply.appendDelta(pt, delta(oneBucketKeys, "update", nBase * 50), Map.empty)

    // Bucket-pruned MOR read (round 5): with the backlog confined to one
    // bucket, resolution joins ONLY that bucket's base files — the other
    // 63/64 of the table passes through as a plain scan. Control: the same
    // snapshot resolved against every base file (no pruning). Both forced to
    // the full-outer (exchange) shape — the shape a large backlog takes,
    // where pruning is the O(touched)-vs-O(table) difference.
    val ps = pt.refresh()
    def timedCount(df: org.apache.spark.sql.DataFrame): Double = {
      val t = System.nanoTime(); df.count(); (System.nanoTime() - t) / 1e9
    }
    val prunedReadSec = timedCount(
      graft.lake.MorRead.resolve(pt, ps, broadcastMaxBytes = 0L))
    val blindReadSec = timedCount(graft.lake.MorRead.resolveOn(pt, ps, ps.files, ps.deltaFiles,
      broadcastMaxBytes = 0L).filter(!col(LakeTable.DeletedCol)))
    println(f"[incr] bucket-pruned MOR read (1-bucket backlog, full-outer shape): " +
      f"pruned $prunedReadSec%5.2f s vs blind $blindReadSec%5.2f s " +
      f"(ratio ${prunedReadSec / blindReadSec}%.3f)")

    def rewrittenBy(body: => Unit): (Double, Long) = {
      val before = pt.refresh().files
      val t = System.nanoTime()
      body
      val sec = (System.nanoTime() - t) / 1e9
      val after = pt.refresh().files
      (sec, before.filterNot(f => after.exists(_.path == f.path)).map(_.rows).sum)
    }
    val (oneBucketFoldSec, oneBucketRows) = rewrittenBy {
      val rp = graft.ingest.Mor.fold(pt,
        minEventsPerBucket = math.max(1L, oneBucketKeys.size / 2L))
      require(rp.bucketsFolded == 1, s"expected a 1-bucket partial fold, got ${rp.bucketsFolded}")
    }
    // Bucket-localized delta log: a big SCATTERED backlog is appended as
    // bucket-labeled files; a later dense 1-bucket burst then folds by
    // reading ONLY its bucket's files — cost must not scale with the total
    // labeled backlog sitting in other buckets.
    val rnd4 = new scala.util.Random(13)
    val labeledBacklog = Iterator.continually(math.abs(rnd4.nextLong()) % nBase)
      .distinct.take(keysPerBatch * nBatches).toSeq
    MergeApply.appendDelta(pt, delta(labeledBacklog, "update", nBase * 55), Map.empty)
    val ls = pt.refresh()
    require(ls.deltaFiles.map(_.bucket).distinct.size > 1,
      "a scattered backlog must land in the delta files of several buckets")
    MergeApply.appendDelta(pt, delta(oneBucketKeys, "update", nBase * 58), Map.empty)
    val (labeledOneBucketFoldSec, labeledOneBucketRows) = rewrittenBy {
      val rp = graft.ingest.Mor.fold(pt,
        minEventsPerBucket = math.max(1L, oneBucketKeys.size.toLong))
      require(rp.bucketsFolded >= 1 && rp.bucketsFolded <= 2,
        s"expected a ~1-bucket file-group fold, got ${rp.bucketsFolded}")
      require(rp.deltaFilesFolded < ls.deltaFiles.size + 4,
        s"file-group fold must not read the whole labeled backlog " +
          s"(read ${rp.deltaFilesFolded} of ${pt.refresh().deltaFiles.size + rp.deltaFilesFolded})")
    }
    println(f"[incr] labeled 1-bucket fold (backlog ${labeledBacklog.size} keys in " +
      f"${ls.deltaFiles.size} labeled files): $labeledOneBucketFoldSec%5.2f s " +
      f"($labeledOneBucketRows rows rewritten)")

    val rnd3 = new scala.util.Random(11)
    val scatterKeys = Iterator.continually(math.abs(rnd3.nextLong()) % nBase)
      .distinct.take(oneBucketKeys.size).toSeq
    MergeApply.appendDelta(pt, delta(scatterKeys, "update", nBase * 60), Map.empty)
    val (scatterFoldSec, scatterRows) = rewrittenBy {
      graft.ingest.Mor.fold(pt) // unconditional: the O(table) comparison point
    }
    println(f"[incr] partial fold: backlog=${oneBucketKeys.size} keys; 1-bucket fold " +
      f"$oneBucketFoldSec%5.2f s ($oneBucketRows rows rewritten) vs scattered full fold " +
      f"$scatterFoldSec%5.2f s ($scatterRows rows rewritten); " +
      f"time ratio ${oneBucketFoldSec / scatterFoldSec}%.3f, " +
      f"rewrite ratio ${oneBucketRows.toDouble / math.max(1L, scatterRows)}%.4f")

    // ---- incremental near-dup: batch-vs-store LSH join (SigStore) against
    //      the full-corpus recompute it must replace at 100 TB. Measured at
    //      TWO corpus sizes: the claim is the SLOPE (incremental cost stays
    //      ~flat in the corpus while the full recompute grows linearly), not
    //      the crossover point, which fixed per-job overhead sets low ----
    val sigScales = Seq(100000L, 400000L); val sigBatchN = 100L
    // clusters of 4 near-dup docs; the batch re-uses LOW cluster ids with a
    // distinct doc-id prefix, so each batch doc near-dups ~4 store docs.
    // Each cluster's 20-word vocabulary is hash-derived (disjoint across
    // clusters), so LSH buckets stay small — a boilerplate fixture (shared
    // text corpus-wide) degenerates every bucket past the cap and measures
    // cap-dropping, not near-dup work
    def sigDocs(n: Long, prefix: String): DataFrame =
      spark.range(0L, n).select(
        format_string(prefix + "%07d", col("id")).as("doc_id"),
        concat(
          array_join(transform(sequence(lit(0), lit(19)),
            j => concat(lit("w"), pmod(xxhash64(col("id") / 4, j), lit(100000))
              .cast("string"))), " "),
          lit(" v"), (col("id") % 4).cast("string")).as("text"))
    // shards SCALE WITH THE CORPUS (the store's deployment contract: one
    // shard stays executor-sized), so the batch's read cost — |batch
    // buckets| shards × constant shard size — stays O(batch) as the corpus
    // grows; a fixed shard count would make every read a constant FRACTION
    // of the corpus instead
    val sigBatch = sigDocs(sigBatchN, "b")
    val sigRows = sigScales.map { n =>
      val sigCfg = graft.operators.SigStore.Config(shards = (n / 100).toInt)
      val sigStoreDir = s"$work/sigstore-$n"
      val sigCorpus = sigDocs(n, "d")
      val tSig0 = System.nanoTime()
      graft.operators.SigStore.appendUpserts(sigStoreDir,
        sigCorpus, col("doc_id"), col("text"), lit(1L), sigCfg)
      val loadSec = (System.nanoTime() - tSig0) / 1e9
      val tSig1 = System.nanoTime()
      val incrPairs = graft.operators.SigStore.incrementalPairs(spark,
        sigStoreDir, sigBatch, col("doc_id"), col("text"), sigCfg, minEst = 0.3)
      val incrN = incrPairs.count()
      val incrSec = (System.nanoTime() - tSig1) / 1e9
      val nShards = graft.operators.SigStore.batchShards(sigBatch,
        col("doc_id"), col("text"), sigCfg).size
      val tSig2 = System.nanoTime()
      val fullN = graft.functions.TextDedup.minHashLshPairs(
        sigCorpus.unionByName(sigBatch), "doc_id", "text", minEst = 0.3).count()
      val fullSec = (System.nanoTime() - tSig2) / 1e9
      println(f"[incr] incremental near-dup @ $n docs: store load $loadSec%5.1f s; " +
        f"batch of $sigBatchN vs store $incrSec%5.2f s ($incrN pairs, " +
        f"$nShards/${sigCfg.shards} shards read); " +
        f"full recompute $fullSec%5.2f s ($fullN pairs); " +
        f"speedup ${fullSec / incrSec}%.1f x")
      (n, incrSec, fullSec, nShards, sigCfg.shards)
    }
    val (sigN1, sigIncr1, sigFull1, _, _) = sigRows.head
    val (sigN2, sigIncr2, sigFull2, sigShardsRead2, sigShardsTotal2) = sigRows.last
    println(f"[incr] near-dup slope ${sigN1}→${sigN2} docs: " +
      f"incremental ${sigIncr2 / sigIncr1}%.2f x vs full ${sigFull2 / sigFull1}%.2f x " +
      f"(corpus grew ${sigN2.toDouble / sigN1}%.0f x)")

    val line =
      f"""{"baseRows":$nBase,"keysPerBatch":$keysPerBatch,"batches":$nBatches,""" +
      f""""totalFiles":$totalFiles,"avgFilesRewritten":${fSum.toDouble / nBatches}%.1f,""" +
      f""""avgRowsRewritten":${rowSum.toDouble / nBatches}%.0f,""" +
      f""""writeAmplification":${rowSum.toDouble / nBatches / keysPerBatch}%.1f,""" +
      f""""tableFractionRewritten":${rowSum.toDouble / nBatches / totalRows}%.4f,""" +
      f""""avgSec":${secSum / nBatches}%.2f,""" +
      f""""morAvgSec":${morSecSum / nBatches}%.2f,""" +
      f""""morRowsWrittenPerBatch":$keysPerBatch,""" +
      f""""morResolveReadSec":$morReadSec%.2f,"morFoldSec":$foldSec%.2f,""" +
      f""""partialFoldBacklog":${oneBucketKeys.size},""" +
      f""""oneBucketFoldSec":$oneBucketFoldSec%.2f,"oneBucketFoldRowsRewritten":$oneBucketRows,""" +
      f""""labeledBacklogKeys":${labeledBacklog.size},"labeledFiles":${ls.deltaFiles.size},""" +
      f""""labeledOneBucketFoldSec":$labeledOneBucketFoldSec%.2f,""" +
      f""""labeledOneBucketFoldRowsRewritten":$labeledOneBucketRows,""" +
      f""""scatterFullFoldSec":$scatterFoldSec%.2f,"scatterFullFoldRowsRewritten":$scatterRows,""" +
      f""""partialFoldCostRatio":${oneBucketFoldSec / scatterFoldSec}%.3f,""" +
      f""""partialFoldRewriteRatio":${oneBucketRows.toDouble / math.max(1L, scatterRows)}%.4f,""" +
      f""""prunedReadSec":$prunedReadSec%.2f,"blindReadSec":$blindReadSec%.2f,""" +
      f""""readPruneRatio":${prunedReadSec / blindReadSec}%.3f,""" +
      f""""feedLastBatchSec":$feedLastSec%.2f,"feedAllBatchesSec":$feedAllSec%.2f,""" +
      f""""feedBlindDiffSec":$blindDiffSec%.2f,""" +
      f""""feedTimeRatio":${feedLastSec / blindDiffSec}%.3f,""" +
      f""""feedRowsRead":${feedStats.rowsInScope},""" +
      f""""feedScanFraction":${feedStats.scanFraction}%.4f,""" +
      f""""chainBootstrapSec":$chainBootstrapSec%.2f,""" +
      f""""chainIncrWindowSec":$chainIncrSec%.2f,"chainIncrApplied":$chainApplied,""" +
      f""""sigBatch":$sigBatchN,""" +
      f""""sigCorpus1":$sigN1,"sigIncr1Sec":$sigIncr1%.2f,"sigFull1Sec":$sigFull1%.2f,""" +
      f""""sigCorpus2":$sigN2,"sigIncr2Sec":$sigIncr2%.2f,"sigFull2Sec":$sigFull2%.2f,""" +
      f""""sigSpeedupAtScale2":${sigFull2 / sigIncr2}%.2f,""" +
      f""""sigIncrSlope":${sigIncr2 / sigIncr1}%.2f,"sigFullSlope":${sigFull2 / sigFull1}%.2f,""" +
      f""""sigShardsRead":$sigShardsRead2,"sigShardsTotal":${sigShardsTotal2}}"""
    println(line)
    val p = java.nio.file.Paths.get("BENCH")
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.writeString(p.resolve("incremental_last.json"), line + "\n")
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }
}
