package graft

import graft.functions.{TextDedup, TopKAgg, VecSumAgg}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 optimization kernels must be DROP-IN equivalents of the
  * declarative formulations they replaced — same rows, same ranks, same
  * rounding — on adversarial inputs the bench data never exercises:
  * score ties, null scores, string ids (whose '<' differs from numeric),
  * short/null vectors.
  */
class KernelParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("TopKAgg == row_number window under ties, null scores AND null ids") {
    // deterministic pseudo-random scores with HEAVY ties (mod 5), null
    // scores, and null ids (the window ranks a null id FIRST among equal
    // scores — asc nulls-first — and the aggregate must reproduce that)
    val df = spark.range(0L, 5000L).select(
      (col("id") % 7).as("g"),
      when(col("id") % 13 === 0, lit(null).cast("long")).otherwise(col("id")).as("item"),
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .otherwise(pmod(col("id") * 2654435761L, lit(5L))).as("score"))
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("item"))
    def rowSet(rows: Array[org.apache.spark.sql.Row]) = rows.map(r => (
      r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      r.getLong(3))).toSet
    val viaWindow = rowSet(df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 4)
      .select(col("g"), col("item"), col("score"), col("rank").cast("long").as("rank"))
      .collect())
    val viaAgg = rowSet(df.groupBy(col("g"))
      .agg(TopKAgg.topK(col("score"), col("item"), 4).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("col.id"), col("col.score"), (col("pos") + 1).cast("long"))
      .collect())
    assert(viaAgg === viaWindow)
  }

  test("TopKAgg: groups smaller than k emit every row, rank order intact") {
    val df = Seq((1L, 10L, 5L), (1L, 11L, 5L), (2L, 20L, 1L)).toDF("g", "item", "score")
    val got = df.groupBy(col("g"))
      .agg(TopKAgg.topK(col("score"), col("item"), 10).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("col.id"), (col("pos") + 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1)))
  }

  test("TopKAgg rejects a non-long score at analysis, before any job runs") {
    val df = Seq((1L, 10L, "5")).toDF("g", "item", "score")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      // analysis is eager: the error surfaces while the frame is built
      df.groupBy(col("g")).agg(TopKAgg.topK(col("score"), col("item"), 2).as("tk"))
    }
    assert(e.getCondition === "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    assert(e.getMessage.contains("bounded_topk"), e.getMessage)
  }

  test("VecSumAgg == per-dimension sum(round(x*1e6)) incl. nulls and short vectors") {
    val dims = 5
    val vecs = spark.range(0L, 400L).select(col("id"),
      when(col("id") % 17 === 0, lit(null).cast("array<float>")) // null vector
        .otherwise(org.apache.spark.sql.functions.transform(
          // ragged: some vectors shorter than dims
          sequence(lit(0), (pmod(col("id"), lit(3L)) + 2L).cast("int")),
          j => (pmod(col("id") * 31L + j * 17L, lit(2001L)).cast("double") / 7.0 - 140.0)
            .cast("float"))).as("v"),
      (col("id") % 3).as("g"))
    val viaCols = vecs.groupBy(col("g")).agg(
      count(lit(1)).as("n"),
      (0 until dims).map(i =>
        // try_element_at: the null-tolerant indexing the kernel's
        // missing-dimension rule mirrors (plain element_at raises on a
        // short vector under Spark 4; production corpora are uniform-dim)
        sum(round(try_element_at(col("v"), lit(i + 1)).cast("double") * 1e6).cast("long")).as(s"s$i")): _*)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), (0 until dims).map(i =>
        if (r.isNullAt(2 + i)) 0L else r.getLong(2 + i)))).toMap
    val viaAgg = vecs.groupBy(col("g"))
      .agg(VecSumAgg.vecSum(col("v"), dims).as("vs"))
      .select(col("g"), col("vs.n"), col("vs.sums"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(viaAgg.keySet === viaCols.keySet)
    viaCols.foreach { case (g, (n, sums)) =>
      assert(viaAgg(g)._1 === n, s"group $g count")
      assert(viaAgg(g)._2 === sums, s"group $g sums")
    }
  }

  test("simHashPairs block kernel == legacy join semantics on STRING ids") {
    // string ids where lexicographic '<' disagrees with numeric order
    // (d2 > d10 as strings): the kernel must order pairs identically to the
    // join's UTF8String comparison
    val base = "the quick brown fox jumps over the lazy dog counting coins today"
    val docs = (0 until 30).map { i =>
      val txt = if (i % 3 == 0) base else base.replace("today", s"tomorrow$i")
      (s"d$i", txt)
    }.toDF("doc_id", "text")
    val got = TextDedup.simHashPairs(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got.nonEmpty, "fixture must produce pairs")
    got.foreach { case (a, b, h) =>
      assert(a < b, s"pair ($a,$b) must be ordered by string '<'")
      assert(h <= 8)
    }
    // independently recompute via the sketch table + an explicit join
    val sk = docs.select(col("doc_id"),
      graft.functions.VecExprs.simHashSketch(
        graft.functions.VecExprs.shingleH62(split(col("text"), "\\s+"), col("text"), 3))
        .as("sketch"))
    val a = sk.alias("a"); val b = sk.alias("b")
    val want = a.join(b, col("a.doc_id") < col("b.doc_id") &&
        bit_count(col("a.sketch").bitwiseXOR(col("b.sketch"))) <= 8)
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.sketch").bitwiseXOR(col("b.sketch"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // all sketches land in shared blocks at 30 docs (pigeonhole complete for
    // hamming<=8 needs 9 bands; simHashPairs uses maxHamming+1 bands, exact
    // recall) — so the capped path must equal the full hamming join here
    assert(got === want)
  }
}
