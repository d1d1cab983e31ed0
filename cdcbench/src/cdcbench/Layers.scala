package cdcbench

/** Layer attribution table: the engine source file a Spark job's call site
  * names → the layer it is credited to. Spark records the call site of every
  * job (the innermost non-Spark frame); the benchmark reads it from outside,
  * so the engine needs no instrumentation.
  *
  * A job whose call site names a file missing from this table is
  * UNATTRIBUTED and counts in `spark.unattributed_job_share`: moving engine
  * code to a new file shows up there instead of silently shifting time
  * between layers. Jobs the benchmark itself starts (an action on a frame the
  * engine returned, e.g. `read().collect()`) carry the `cdcbench.call` local
  * property naming the engine entry point that built the frame.
  */
object Layers {
  /** Module → the files of `src/main/scala/graft/<module>/` with their layer.
    * `operators` and `functions` are credited as whole modules. */
  val byFile: Map[String, String] = Map(
    "ChangeLog.scala" -> "log.ChangeLog",
    "ChangelogGen.scala" -> "gen.ChangelogGen",
    "Oracle.scala" -> "gen.Oracle",
    "Ingest.scala" -> "ingest.Ingest",
    "Validate.scala" -> "ingest.Validate",
    "FilterChain.scala" -> "ingest.FilterChain",
    "Dedup.scala" -> "ingest.Dedup",
    "MergeApply.scala" -> "ingest.MergeApply",
    "Mor.scala" -> "ingest.Mor",
    "ChainApply.scala" -> "ingest.ChainApply",
    "LakeTable.scala" -> "lake.LakeTable",
    "Manifest.scala" -> "lake.Manifest",
    "Snapshot.scala" -> "lake.Snapshot",
    "MorRead.scala" -> "lake.MorRead",
    "ChangeFeed.scala" -> "lake.ChangeFeed",
    "Maintenance.scala" -> "lake.Maintenance",
    "ImageBinding.scala" -> "lake.ImageBinding",
    "TableSchema.scala" -> "lake.TableSchema",
    "StreamIngest.scala" -> "streaming.StreamIngest",
    "ProgressListener.scala" -> "streaming.ProgressListener",
    "SigStore.scala" -> "operators",
    "IvfIndex.scala" -> "operators",
    "SessionCollector.scala" -> "operators",
    "DiffData.scala" -> "operators",
    "NoPkApply.scala" -> "operators",
    "AnnSearch.scala" -> "functions",
    "CentroidMatrix.scala" -> "functions",
    "Keys.scala" -> "functions",
    "LastWriterAgg.scala" -> "functions",
    "Multimodal.scala" -> "functions",
    "OracleHash.scala" -> "functions",
    "PartitionAgg.scala" -> "functions",
    "TextDedup.scala" -> "functions",
    "TopKAgg.scala" -> "functions",
    "VecExprs.scala" -> "functions",
    "VecSumAgg.scala" -> "functions",
    "Json.scala" -> "lake.Json",
    "Rand.scala" -> "util",
    "SparkEntry.scala" -> "queries",
    "GenSf.scala" -> "harness",
    "Bench.scala" -> "harness")

  /** The benchmark's own source files. */
  val benchFiles: Set[String] = Set(
    "Layers.scala", "Ledger.scala", "Metrics.scala", "OracleCheck.scala",
    "RunMain.scala", "Inputs.scala", "PerLayer.scala", "ReplayBulk.scala", "LiveTail.scala")

  /** Layers whose five job metrics the traced run prints. Jobs inside a
    * streaming micro-batch carry the call site of the stream's start (Spark
    * sets it on the stream thread), so they land in `streaming.StreamIngest`. */
  val reported: Seq[String] = Seq(
    "ingest.Ingest", "ingest.MergeApply", "ingest.Mor", "lake.MorRead",
    "lake.ChangeFeed", "ingest.ChainApply", "log.ChangeLog", "lake.LakeTable",
    "streaming.StreamIngest", "operators", "functions")

  val Unattributed = "unattributed"
  val Bench = "bench"
  val CallProperty = "cdcbench.call"

  private val Frame = raw"([A-Za-z0-9_$$.]+)\(([A-Za-z0-9_$$]+\.(?:scala|java)):\d+\)".r
  private val SkippedPackages = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")

  /** File named by a short call site such as `count at MergeApply.scala:412`. */
  def shortFile(short: String): Option[String] =
    Option(short).flatMap { s =>
      val i = s.lastIndexOf(" at ")
      if (i < 0) None else s.substring(i + 4).split(':').headOption
    }

  /** Source files of a long call site's frames, innermost first, without
    * Spark, Scala and JDK frames. */
  def frameFiles(long: String): Iterator[String] =
    Option(long).iterator.flatMap(l => Frame.findAllMatchIn(l))
      .filterNot(m => SkippedPackages.exists(m.group(1).startsWith))
      .map(_.group(2))

  /** Layer of a job from its call sites, innermost first: the short form,
    * the long form's frames, then the frames of the SQL execution it belongs
    * to (jobs that adaptive execution submits from its own threads carry a
    * call site with no engine frame). A Scala file outside the table ends the
    * search as unattributed; Spark and JDK frames are skipped. `bench`
    * resolves to the job's `cdcbench.call` property. */
  def attribute(files: Iterator[String], benchCall: Option[String]): String =
    files.find(_.endsWith(".scala")) match {
      case Some(f) if byFile.contains(f) => byFile(f)
      case Some(f) if benchFiles.contains(f) => benchCall.getOrElse(Bench)
      case _ => Unattributed
    }
}
