package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** ID-based table schema (Iceberg-style semantics, implemented from scratch):
  * every column has a stable numeric id; names and types evolve, ids never
  * change. Data files record the schemaId they were written under; the read
  * path maps file columns to current columns BY ID, so rename/widen never
  * require rewriting old files.
  *
  * Supported evolutions (the three the north rule names — the reference just
  * forwards raw ALTER TABLE text, /root/reference/event/sql_maker.go:72-78):
  * add_column, rename_column, widen_type (int→long→double, int/long→string,
  * float→double).
  */
final case class ColumnDef(id: Int, name: String, dataType: String)

final case class TableSchema(schemaId: Int, columns: Seq[ColumnDef], lastColumnId: Int) {
  def find(name: String): Option[ColumnDef] = columns.find(_.name == name)
  def findById(id: Int): Option[ColumnDef] = columns.find(_.id == id)

  /** This schema's columns over rows written under `older`: each column
    * read BY ID (rename-safe) and cast to its current type (widen-safe); a
    * column `older` lacks reads as null. */
  def projectFrom(older: TableSchema): Seq[Column] = columns.map { c =>
    val tp = TableSchema.toSpark(c.dataType)
    older.findById(c.id).fold(lit(null).cast(tp))(oc => col(oc.name).cast(tp)).as(c.name)
  }

  def sparkType: StructType =
    StructType(columns.map(c => StructField(c.name, TableSchema.toSpark(c.dataType))))

  def addColumn(name: String, dataType: String): TableSchema = {
    require(find(name).isEmpty, s"column exists: $name")
    require(TableSchema.types.contains(dataType), s"unknown type: $dataType")
    val id = lastColumnId + 1
    TableSchema(schemaId + 1, columns :+ ColumnDef(id, name, dataType), id)
  }

  def renameColumn(from: String, to: String): TableSchema = {
    val c = find(from).getOrElse(throw new IllegalArgumentException(s"no column: $from"))
    require(find(to).isEmpty, s"column exists: $to")
    TableSchema(schemaId + 1, columns.map(x => if (x.id == c.id) x.copy(name = to) else x), lastColumnId)
  }

  def widenType(name: String, to: String): TableSchema = {
    val c = find(name).getOrElse(throw new IllegalArgumentException(s"no column: $name"))
    require(TableSchema.canWiden(c.dataType, to), s"illegal widen ${c.dataType} -> $to for $name")
    TableSchema(schemaId + 1, columns.map(x => if (x.id == c.id) x.copy(dataType = to) else x), lastColumnId)
  }

  def toJson: String = Json.obj(
    "schemaId" -> schemaId.toString,
    "lastColumnId" -> lastColumnId.toString,
    "columns" -> Json.arrOf(columns.map(c => Json.obj(
      "id" -> c.id.toString,
      "name" -> Json.quote(c.name),
      "type" -> Json.quote(c.dataType)))))
}

object TableSchema {
  val types: Set[String] =
    Set("string", "int", "long", "float", "double", "boolean", "timestamp", "binary")

  private val widenings: Set[(String, String)] = Set(
    ("int", "long"), ("int", "double"), ("long", "double"),
    ("int", "string"), ("long", "string"), ("float", "double"))
  def canWiden(from: String, to: String): Boolean = widenings.contains((from, to))

  def toSpark(t: String): DataType = t match {
    case "string" => StringType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "boolean" => BooleanType
    case "timestamp" => TimestampType
    case "binary" => BinaryType
    case other => throw new IllegalArgumentException(s"unknown type: $other")
  }

  def fromJsonNode(n: com.fasterxml.jackson.databind.JsonNode): TableSchema =
    TableSchema(
      Json.int(n, "schemaId"),
      Json.arr(n, "columns").map(c => ColumnDef(Json.int(c, "id"), Json.str(c, "name"), Json.str(c, "type"))),
      Json.int(n, "lastColumnId"))

  /** The north-rule base schema: (repo, path, commit, lang, content). */
  val base: TableSchema = TableSchema(0, Seq(
    ColumnDef(1, "repo", "string"),
    ColumnDef(2, "path", "string"),
    ColumnDef(3, "commit", "string"),
    ColumnDef(4, "lang", "string"),
    ColumnDef(5, "content", "string")), 5)
}
