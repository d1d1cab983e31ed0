package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{StringType, StructType}

/** Spark `FileIndex` over one snapshot's manifest entries (base or delta
  * files): the scan plans from the manifest alone — each entry's relative
  * path and recorded size — never listing or statting the data
  * directories.
  *
  * '''Key pruning.''' When the pushed data filters pin `repo` and `path` to
  * string literals, only files that can hold that key are returned: bucket
  * label equal to the key's bucket under `numBuckets` and
  * `minKey <= _hkey <= maxKey` — the same metadata and the same test the
  * copy-on-write merge trusts to pick the files it rewrites
  * (`MergeApply.fileHitExpr`). The key's bucket and `_hkey` are evaluated
  * through the table's own [[LakeTable.bucketExpr]] / [[LakeTable.hkeyExpr]],
  * so the mapping has one definition. Any other filter returns every file.
  *
  * `numBuckets` must be the bucket count the files were written under (the
  * snapshot they belong to). */
final class ManifestFileIndex(table: LakeTable, numBuckets: Int, files: Seq[DataFile])
  extends FileIndex {

  private lazy val statuses: Array[(DataFile, FileStatus)] = {
    val root = new Path(java.nio.file.Paths.get(table.dir).toAbsolutePath.normalize.toUri)
    files.iterator.map(f => f -> new FileStatus(f.bytes, false, 0, 0L, 0L, new Path(root, f.path))).toArray
  }

  override def rootPaths: Seq[Path] = statuses.toSeq.map(_._2.getPath)

  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val selected = ManifestFileIndex.pinnedKey(dataFilters) match {
      case Some((repo, path)) =>
        val (bucket, hkey) = coordinates(repo, path)
        statuses.filter { case (f, _) => f.bucket == bucket && f.minKey <= hkey && hkey <= f.maxKey }
      case None => statuses
    }
    Seq(PartitionDirectory(InternalRow.empty, selected.map(_._2)))
  }

  /** (bucket, `_hkey`) of one key: the table's own expressions evaluated on
    * the driver — analysis only, no Spark job. */
  private def coordinates(repo: String, path: String): (Int, Long) = {
    val (r, p) = (lit(repo), lit(path))
    val plan = table.spark.emptyDataFrame
      .select(LakeTable.bucketExpr(r, p, numBuckets), table.hkeyExpr(r, p))
      .queryExecution.analyzed
    val Seq(b, h) = plan.expressions.map(_.eval(InternalRow.empty))
    (b.asInstanceOf[Int], h.asInstanceOf[Long])
  }

  override def inputFiles: Array[String] = statuses.map(_._2.getPath.toString)

  override def refresh(): Unit = ()

  /** Sum of on-disk lengths — what a listed index reports, so size-driven
    * plan choices (broadcast, join strategy) are the same. */
  override def sizeInBytes: Long = statuses.iterator.map(_._2.getLen).sum

  override def partitionSchema: StructType = new StructType()

  /** Indexes over the same files are equal, as Spark's listing index is, so
    * plan comparison (exchange reuse, cached-plan lookup) still matches two
    * scans of one file set. */
  private lazy val identity: (String, Int, Set[String]) =
    (table.dir, numBuckets, files.iterator.map(_.path).toSet)

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => identity == o.identity
    case _ => false
  }

  override def hashCode(): Int = identity.hashCode()
}

object ManifestFileIndex {

  /** The (repo, path) key that pushed data filters pin with
    * `repo = '<literal>'` and `path = '<literal>'` conjuncts, if any. */
  private def pinnedKey(filters: Seq[Expression]): Option[(String, String)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def pin(a: AttributeReference, v: Any): Option[(String, String)] =
      if (v != null && a.dataType == StringType) Some(a.name -> v.toString) else None
    val pins = filters.flatMap(conjuncts).flatMap {
      case EqualTo(a: AttributeReference, Literal(v, StringType)) => pin(a, v)
      case EqualTo(Literal(v, StringType), a: AttributeReference) => pin(a, v)
      case _ => None
    }.toMap
    for (r <- pins.get("repo"); p <- pins.get("path")) yield (r, p)
  }
}
