package graft.lake

import graft.model.Ops
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The engine's last-writer-wins (LWW) column policy — ONE definition of
  * which image field feeds which column, shared by the copy-on-write merge
  * (`MergeApply`) and the merge-on-read resolver ([[MorRead]]).
  *
  *  - [[bind]]: rename-safe binding of after-image field names to
  *    current-schema columns. An after-image written before a rename_column
  *    DDL carries the OLD field name; it resolves to the current column
  *    through the schema log's stable column ids instead of being silently
  *    dropped. A backlog merged across the rename carries both names, so a
  *    column binds every field that maps to it and reads the first non-null
  *    ([[imageValue]]).
  *  - [[lwwColumns]]: the row a change event and the base row resolve to. A
  *    delta wins on a strictly greater `seq` (equal is a duplicate and the
  *    base stands); a winning delete tombstones and nulls every non-key
  *    column; a winning upsert takes image-bound columns from `after` and
  *    PRESERVES columns the image does not carry (added by a later DDL) from
  *    the base row; `_seq`/`_deleted` are the winner's.
  */
object ImageBinding {

  /** (column-name → image-fields, unresolvable-image-fields). A column's
    * fields are its exact name first, then its older names — each bound
    * through the newest schema that used it — in descending schema id. A
    * field binds to at most one column: an exact name match before an id
    * match. */
  def bind(snap: Snapshot, imageFields: Set[String]): (Map[String, Seq[String]], Set[String]) = {
    val cur = snap.schema
    val (exact, other) = imageFields.partition(f => cur.find(f).isDefined)
    // (column, the schema id that last named it so, field)
    val older = other.toSeq.flatMap { f =>
      snap.schemas.sortBy(-_.schemaId).iterator
        .flatMap(sch => sch.find(f).map(c => (sch.schemaId, c.id))).nextOption()
        .flatMap { case (schemaId, id) => cur.findById(id).map(c => (c.name, schemaId, f)) }
    }
    val bound = (exact.toSeq.map(f => (f, Int.MaxValue, f)) ++ older).groupBy(_._1)
      .map { case (c, fs) => c -> fs.sortBy { case (_, schemaId, f) => (-schemaId, f) }.map(_._3) }
    (bound, imageFields -- bound.valuesIterator.flatten)
  }

  /** A column's value in a change event `d`: the first non-null of its bound
    * image `fields`, each cast to the column type `tp`. An event was written
    * under one schema, so at most one of its names is non-null. */
  def imageValue(fields: Seq[String], tp: DataType, d: String => Column): Column =
    coalesce(fields.map(f => d(s"after.$f").cast(tp)): _*)

  /** The field names of a change-event frame's `after` image. */
  def imageFields(events: DataFrame): Set[String] = events.schema("after").dataType match {
    case s: StructType => s.fieldNames.toSet
    case _ => Set.empty
  }

  /** Whether the change event `d` beats the base row `b` (either side's
    * columns may be null: an unmatched outer-join row). */
  def deltaWins(d: String => Column, b: String => Column): Column =
    d("seq").isNotNull && (b(LakeTable.SeqCol).isNull || d("seq") > b(LakeTable.SeqCol))

  /** The resolved row: `sch`'s columns, `_seq` and `_deleted`. `d` names a
    * change-event field (`repo`, `path`, `op`, `seq`, `after.<field>`);
    * `base` names a base-row column, or is None where no base row can exist
    * (the event is an insert or an absorbing tombstone). `keysFromBase`:
    * every row has a base row (a left-outer join from the base), so the keys
    * are the base's plain columns, through which key filters reach the base
    * scan; otherwise a key is the event's, else the base's. */
  def lwwColumns(sch: TableSchema, binding: Map[String, Seq[String]],
      d: String => Column, base: Option[String => Column],
      keysFromBase: Boolean = false): Seq[Column] = {
    val isDel = d("op") === Ops.Delete
    def isKey(name: String) = name == "repo" || name == "path"
    base match {
      case None =>
        sch.columns.map { c =>
          val tp = TableSchema.toSpark(c.dataType)
          if (isKey(c.name)) d(c.name)
          else binding.get(c.name) match {
            case Some(fs) =>
              when(!isDel, imageValue(fs, tp, d)).otherwise(lit(null).cast(tp)).as(c.name)
            case None => lit(null).cast(tp).as(c.name)
          }
        } ++ Seq(d("seq").as(LakeTable.SeqCol), isDel.as(LakeTable.DeletedCol))
      case Some(b) =>
        val dWins = deltaWins(d, b)
        sch.columns.map { c =>
          val tp = TableSchema.toSpark(c.dataType)
          if (isKey(c.name))
            (if (keysFromBase) b(c.name) else coalesce(d(c.name), b(c.name))).as(c.name)
          else binding.get(c.name) match {
            case Some(fs) =>
              when(dWins && !isDel, imageValue(fs, tp, d))
                .when(dWins && isDel, lit(null).cast(tp))
                .otherwise(b(c.name)).as(c.name)
            case None => // not carried by the image: preserve the base value
              when(dWins && isDel, lit(null).cast(tp)).otherwise(b(c.name)).as(c.name)
          }
        } ++ Seq(
          when(dWins, d("seq")).otherwise(b(LakeTable.SeqCol)).as(LakeTable.SeqCol),
          when(dWins, isDel).otherwise(b(LakeTable.DeletedCol)).as(LakeTable.DeletedCol))
    }
  }
}
