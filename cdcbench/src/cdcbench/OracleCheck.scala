package cdcbench

import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.model.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sequential-replay oracle, folded as a stream of generated events (no
  * materialised event list), and the per-row `(repo, path, sha2(content))`
  * comparison of a final table against it. Runs outside timed windows. */
object OracleCheck {
  type Key = (String, String)

  /** Applies events `from until until` of `cfg`'s log, in seq order. */
  def fold(cfg: GenConfig, from: Long, until: Long, st: Oracle.State): Oracle.State = {
    var seq = from
    while (seq < until) {
      val e = ChangelogGen.eventAt(cfg, seq)
      if (Ops.all.contains(e.op)) st.applyOne(e)
      seq += 1
    }
    st
  }

  /** Expected final rows: key → content sha256, restricted to `keep`. */
  def expected(st: Oracle.State, keep: Key => Boolean = _ => true): Map[Key, String] =
    st.rows.iterator.collect {
      case (k, Oracle.Entry(row, _)) if keep(k) => k -> Oracle.sha256Hex(row.content)
    }.toMap

  /** The table's visible rows as (repo, path, content sha256). */
  def rows(df: DataFrame): Seq[(String, String, String)] =
    df.select(col("repo"), col("path"), sha2(col("content"), 256)).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  /** Mismatch description, or None when `actual` equals `want` row for row
    * (a duplicated key is a mismatch too). */
  def diff(actual: Seq[(String, String, String)], want: Map[Key, String]): Option[String] = {
    val got = actual.map { case (r, p, h) => (r, p) -> h }.toMap
    val dups = actual.size - got.size
    val missing = want.keysIterator.count(k => !got.contains(k))
    val extra = got.keysIterator.count(k => !want.contains(k))
    val wrong = got.count { case (k, h) => want.get(k).exists(_ != h) }
    if (dups == 0 && missing == 0 && extra == 0 && wrong == 0) None
    else Some(s"rows=${actual.size} want=${want.size} duplicated=$dups missing=$missing " +
      s"unexpected=$extra wrongContent=$wrong")
  }

  /** Compares `df` with `want`, recording the outcome in `m`. With
    * `mutationCheck`, also proves the comparison is not vacuous: the same
    * rows with one dropped must be reported as a mismatch. */
  def verify(m: Metrics, name: String, df: DataFrame, want: Map[Key, String],
      mutationCheck: Boolean): Unit = {
    val actual = m.op(s"oracle read of $name")(rows(df))
    actual.foreach { a =>
      val d = diff(a, want)
      m.check(s"oracle $name", d.isEmpty, d.getOrElse(""))
      if (mutationCheck) {
        val caught = a.nonEmpty && diff(a.tail, want).isDefined
        m.check(s"oracle catches a dropped row in $name", caught)
      }
    }
  }
}
