package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic large-SF testdata generator (round-6 verdict item #5: prove
  * the corpus-scaled mechanisms — nearDupBits width, bucket caps, doc-freq
  * caps, IVF C — where bucket degeneracy actually bites, beyond the driver's
  * largest shipped SF of 0.1).
  *
  * Mirrors the shipped tables' schemas and value distributions (inspected at
  * sf0.1: 5k documents from a ~29-word vocabulary with ~0.2% exact dups,
  * lang {en 40%, de/zh/fr/es 15%}, source src0..19; 2k embeddings dim-64
  * small floats, label 0..9; 100k events over 30 days, 1.5k users, 5 uniform
  * event types, value 0..560.21, props {"k": n}). All values derive from
  * xxhash64(id, salt) — fully deterministic under any partitioning, no RNG
  * state. `nation` is copied verbatim from the shipped sf0.1 (25 fixed rows).
  *
  * Usage: runMain graft.GenSf <outDir> <mult>   (mult 10 ⇒ "sf1": 50k docs,
  * 20k vectors, 1M events; mult 100 ⇒ "sf10").
  */
object GenSf {
  private val Vocab = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "query", "agg", "table", "key", "stream", "filter", "big", "merge",
    "join", "vector", "data", "customer", "window", "the")

  private def h(salt: String) = xxhash64(col("id"), lit(salt))
  private def hm(salt: String, m: Long) = pmod(h(salt), lit(m))

  def documents(spark: SparkSession, n: Long): DataFrame = {
    val vocab = typedlit(Vocab)
    // ~2% of docs clone an earlier doc's text (exact-dup clusters for
    // dedup_exact/doc_fingerprint); text length 12..71 words
    val base = spark.range(0L, n).select(col("id"),
      when(hm("dup", 100L) < 2 && col("id") >= 64L,
        col("id") - hm("dupoff", 50L) - 1L).otherwise(col("id")).as("tid"))
    base.select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), (pmod(xxhash64(col("tid"), lit("len")), lit(60L)) + 11L).cast("int")),
        j => element_at(vocab,
          (pmod(xxhash64(col("tid"), lit("w"), j), lit(Vocab.size.toLong)) + 1L).cast("int")))).as("text"),
      element_at(typedlit(Seq("en", "en", "en", "en", "en", "en", "en", "en",
        "de", "de", "de", "zh", "zh", "zh", "fr", "fr", "fr", "es", "es", "es")),
        (hm("lang", 20L) + 1L).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  def embeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => ((pmod(xxhash64(col("id"), lit("e"), j), lit(2001L)) - 1000L) / 8333.0)
          .cast("float")).as("embedding"),
      hm("lbl", 10L).cast("int").as("label"))

  def events(spark: SparkSession, n: Long, users: Long): DataFrame = {
    val epoch0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val spanMicros = 30L * 24 * 3600 * 1000000L
    spark.range(0L, n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(epoch0) + col("id") * lit(spanMicros / math.max(1L, n)) +
        hm("jit", spanMicros / math.max(1L, n))).as("ts"),
      hm("usr", users).as("user_id"),
      element_at(typedlit(Seq("signup", "click", "purchase", "error", "view")),
        (hm("typ", 5L) + 1L).cast("int")).as("event_type"),
      (hm("val", 56022L) / 100.0).as("value"),
      concat(lit("{\"k\": "), hm("prp", 100L), lit("}")).as("props"))
  }

  /** Single-FILE parquet, matching the shipped testdata shape (the DuckDB
    * oracle reads `<dir>/<name>.parquet` as one file, not a directory). */
  private def writeOne(df: DataFrame, path: String): Unit = {
    val tmp = s"$path.tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    // Using.resource: Files.list holds an open directory fd until closed
    val found = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { st =>
      val it = st.iterator()
      var f: java.nio.file.Path = null
      while (it.hasNext) { val p = it.next(); if (p.toString.endsWith(".parquet")) f = p }
      f
    }
    require(found != null, s"no part file under $tmp")
    java.nio.file.Files.move(found, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    ()
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val mult = args(1).toLong
    val spark = graft.app.Main.session("graft-gensf")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    writeOne(documents(spark, 5000L * mult), s"$outDir/documents.parquet")
    writeOne(embeddings(spark, 2000L * mult), s"$outDir/embeddings.parquet")
    writeOne(events(spark, 100000L * mult, 1500L * mult), s"$outDir/events.parquet")
    writeOne(spark.read.parquet("/root/testdata/sf0.1/nation.parquet"),
      s"$outDir/nation.parquet")
    println(s"GenSf: wrote mult=$mult tables to $outDir")
    spark.stop()
  }
}
