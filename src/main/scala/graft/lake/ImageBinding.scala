package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Rename-safe binding of after-image field names to current-schema columns
  * (shared by the COW merge and the merge-on-read resolver — ONE definition
  * of which image field feeds which column).
  *
  * An after-image written before a rename_column DDL carries the OLD field
  * name; it resolves to the current column through the schema log's stable
  * column ids instead of being silently dropped. Returns
  * (column-name → image-field, unresolvable-image-fields).
  */
object ImageBinding {
  def bind(snap: Snapshot, imageFields: Set[String]): (Map[String, String], Set[String]) = {
    val cur = snap.schema
    val byName: Map[String, String] =
      imageFields.flatMap(f => cur.find(f).map(_.name -> f)).toMap
    val byId: Map[String, String] = imageFields
      .filterNot(byName.valuesIterator.contains)
      .flatMap { f =>
        snap.schemas.sortBy(-_.schemaId).iterator
          .flatMap(_.find(f)).map(_.id).nextOption()
          .flatMap(cur.findById)
          .filterNot(c => byName.contains(c.name)) // exact name match wins
          .map(_.name -> f)
      }.toMap
    val resolved = byName ++ byId
    (resolved, imageFields -- resolved.values)
  }

  /** The field names of a change-event frame's `after` image. */
  def imageFields(events: DataFrame): Set[String] = events.schema("after").dataType match {
    case s: StructType => s.fieldNames.toSet
    case _ => Set.empty
  }
}
