package graft

import graft.app.Main
import graft.functions.TextDedup
import graft.operators.{IvfIndex, SigStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Diagnostics beside the engine CLI:
  *
  * {{{
  *   plans <sfDir> <outDir> <tag>   # formatted plans → <outDir>/<name>_<tag>.txt
  *   calib                          # pure-CPU ceiling at 1 core and at every core
  * }}}
  *
  * Per-layer timing (jobs, stages, task CPU, GC, shuffle) is the benchmark's:
  * `python3 cdcbench/run.py --trace 1`.
  */
object Diag {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("plans", sfDir, outDir, tag) => plans(sfDir, outDir, tag)
    case Seq("calib") => calib()
    case _ =>
      System.err.println("usage: graft.Diag plans <sfDir> <outDir> <tag> | calib")
      sys.exit(2)
  }

  /** The plan of every [[SparkEntry]] query, plus the inner plans of the
    * three store-backed operators: those queries materialize before
    * returning, so their own plan is only a checkpoint scan. */
  private def plans(sfDir: String, outDir: String, tag: String): Unit = {
    val spark = Main.session("graft-diag")
    val out = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def dump(name: String, df: DataFrame): Unit = {
      val plan = df.queryExecution.explainString(FormattedMode)
      java.nio.file.Files.writeString(out.resolve(s"${name}_$tag.txt"), plan)
      println(s"[plans] ${name}_$tag.txt (${plan.length} chars)")
    }
    def withScratch(prefix: String)(body: String => Unit): Unit = {
      val dir = SparkEntry.scratchDir(prefix)
      try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) => dump(name, q(spark, sfDir)) }
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      withScratch("graft-planivf") { idx =>
        IvfIndex.build(idx, emb, col("vec_id"), col("embedding"), SparkEntry.IvfCfg)
        dump("ann_ivf_topk_inner", IvfIndex.topK(spark, idx,
          emb.filter(col("vec_id") < 8), col("vec_id"), col("embedding"), nProbe = 2, k = 3))
      }
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      withScratch("graft-plansig") { store =>
        val cfg = SparkEntry.SigStoreCfg
        SigStore.appendUpserts(store, docs.filter(col("doc_id") % 10 =!= 0),
          col("doc_id"), col("text"), lit(1L), cfg)
        dump("dedup_incremental_inner", SigStore.incrementalPairsPlan(spark, store,
          docs.filter(col("doc_id") % 10 === 0), col("doc_id"), col("text"), cfg, minEst = 0.25))
      }
      dump("dedup_simhash_inner",
        TextDedup.simHashPairsPlan(docs, "doc_id", "text", shingleLen = 3, maxHamming = 6))
    } finally spark.stop()
  }

  /** Host calibration: a pure-CPU Spark job (a sha256 chain over generated
    * rows; no input IO, no shuffle, output discarded), best of two after a
    * warm-up, at 1 core and at every core. The ratio is this host's
    * parallel-speedup ceiling: virtualized vCPUs may be overcommitted, and
    * no engine scales past the silicon. */
  private def calib(): Unit = {
    val rows = 1L << 23 // the 1-core runs dominate: ~8 s each on a 4-vCPU x86 VM
    def best(cores: Int): Double = {
      val s = Main.session("graft-calib", Some(cores))
      def once(): Double = {
        val t0 = System.nanoTime()
        s.range(0, rows, 1, cores * 4)
          .select(sum(length(sha2(concat(lit("x"), (col("id") % 97).cast("string")), 256))))
          .collect()
        (System.nanoTime() - t0) / 1e9
      }
      try { once(); Seq.fill(2)(once()).min }
      finally { s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
    }
    val n = Runtime.getRuntime.availableProcessors()
    val t1 = best(1)
    val tN = best(n)
    println(f"[calib] rows=$rows t1=$t1%.2f tN=$tN%.2f (N=$n) " +
      f"speedup=${t1 / tN}%.2f efficiency=${t1 / tN / n}%.3f")
  }
}
