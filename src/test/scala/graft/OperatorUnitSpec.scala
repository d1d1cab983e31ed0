package graft

import graft.ingest.{Dedup, FilterChain, Validate}
import graft.model._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator unit tests (SURVEY §5.2): validation arity truth table,
  * default-deny filter chain, table-filter truth table, dedup variants.
  */
class OperatorUnitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ev(
      op: String, repo: String = "r", path: String = "p", seq: Long = 1L,
      before: Option[RepoRow] = None, after: Option[RepoRow] = None,
      ddl: Option[DdlOp] = None): ChangeEvent =
    ChangeEvent(0, seq, seq, new java.sql.Timestamp(0L), op, repo, path, before, after, ddl)

  private val row = RepoRow("r", "p", "c", "scala", "x")

  test("validation arity truth table (reference event/event.go:171-212)") {
    import spark.implicits._
    val cases = Seq(
      ev("insert", after = Some(row)) -> null,
      ev("insert") -> "insert_missing_after",
      ev("update", before = Some(row), after = Some(row)) -> null,
      ev("update", after = Some(row)) -> "update_arity",
      ev("update", before = Some(row)) -> "update_arity",
      ev("delete", before = Some(row)) -> null,
      ev("delete") -> "delete_missing_before",
      ev("ddl", repo = null, path = null, ddl = Some(DdlOp("add_column", "c", null, null, "int"))) -> null,
      ev("ddl", repo = null, path = null) -> "ddl_missing_payload",
      ev("upsert", after = Some(row)) -> "unknown_op",
      ev("insert", repo = null, after = Some(row)) -> "null_key")
    val got = cases.map(_._1).toDS().toDF()
      .select(Validate.errorExpr.as("err")).collect().map(r => Option(r.getString(0)).orNull)
    cases.map(_._2).zip(got).zipWithIndex.foreach { case ((want, g), i) =>
      assert(g === want, s"case $i")
    }
  }

  test("filter chain: empty = default-deny; conjunctive otherwise (filter_handler.go:47-57)") {
    import spark.implicits._
    val df = Seq(ev("insert", repo = "a", after = Some(row)),
      ev("insert", repo = "b", after = Some(row))).toDS().toDF()
    assert(df.filter(FilterChain.empty.expr).count() === 0, "empty chain rejects everything")
    assert(df.filter(FilterChain.passAll.expr).count() === 2)
    val chain = FilterChain.passAll.add(col("repo") === "a").add(col("seq") === 1L)
    assert(df.filter(chain.expr).count() === 1)
    // a failing conjunct denies even if others pass
    assert(df.filter(chain.add(lit(false)).expr).count() === 0)
  }

  test("table filter truth table (config/tablefilter.go:13-45)") {
    import spark.implicits._
    val df = Seq("a", "b", "c").map(r => ev("insert", repo = r, after = Some(row))).toDS().toDF()
    def n(c: org.apache.spark.sql.Column): Long = df.filter(c).count()
    assert(n(FilterChain.tableFilter()) === 3, "both empty => pass")
    assert(n(FilterChain.tableFilter(include = Seq("a", "b"))) === 2)
    assert(n(FilterChain.tableFilter(exclude = Seq("a"))) === 2)
    assert(n(FilterChain.tableFilter(include = Seq("a", "b"), exclude = Seq("a"))) === 1)
    assert(n(FilterChain.repoRegex("^[ab]$")) === 2)
    assert(n(FilterChain.opFilter(Seq("insert"))) === 3)
    assert(n(FilterChain.opFilter(Seq("delete"))) === 0)
  }

  test("dedup keeps the max-seq event per key; the max_by form agrees") {
    import spark.implicits._
    val events = Seq(
      ev("insert", path = "p1", seq = 1, after = Some(row.copy(content = "v1"))),
      ev("update", path = "p1", seq = 5, after = Some(row.copy(content = "v5"))),
      ev("update", path = "p1", seq = 3, after = Some(row.copy(content = "v3"))),
      ev("insert", path = "p2", seq = 2, after = Some(row.copy(content = "w2"))),
      // exact duplicate delivery of (partition, offset)
      ev("update", path = "p1", seq = 5, after = Some(row.copy(content = "v5"))))
    val df = events.toDS().toDF()
    val d = Dedup.lastWriterPerKey(df)
      .select(col("path"), col("seq"), col("after.content"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(d === Set(("p1", 5L, "v5"), ("p2", 2L, "w2")))
    // both formulations agree (custom agg, max_by)
    val dm = Dedup.lastWriterPerKeyMaxBy(df)
      .select(col("path"), col("seq"), col("after.content"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(dm === d, "max_by fallback must agree with the custom aggregate")
  }

  test("invalid events dead-letter through the live pipeline without stopping it") {
    import spark.implicits._
    import graft.ingest.Ingest
    import graft.lake.LakeTable
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-dl"), numBuckets = 4)
    val batch = Seq(
      ev("insert", path = "ok", seq = 1, after = Some(row)),        // valid
      ev("insert", path = "bad1", seq = 2),                         // missing after
      ev("update", path = "bad2", seq = 3, after = Some(row)),      // missing before
      ev("wat", path = "bad3", seq = 4, after = Some(row)),         // unknown op
      ev("delete", repo = null, path = "bad4", seq = 5, before = Some(row))) // null key
    val bm = Ingest.applyBatch(table, batch.toDS().toDF())
    assert(bm.deadLetters === 4)
    assert(bm.eventsApplied === 1)
    assert(table.read().count() === 1, "only the valid event lands")
    val dl = spark.read.parquet(s"${table.dir}/_errors")
    assert(dl.count() === 4)
    val reasons = dl.select("_error").collect().map(_.getString(0)).toSet
    assert(reasons === Set("insert_missing_after", "update_arity", "unknown_op", "null_key"))
  }

  test("LastWriterAgg handles null payloads and spill serialization round-trip") {
    import graft.functions.LastWriterAgg
    val agg = LastWriterAgg(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(struct(lit("x").as("a"))),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(1L)))
    val empty = agg.createAggregationBuffer()
    val ser = agg.serialize(empty)
    val rt = agg.deserialize(ser)
    assert(rt.seq === Long.MinValue && rt.row === null)
    assert(agg.eval(rt) === null, "empty group evaluates to null")
  }
}
