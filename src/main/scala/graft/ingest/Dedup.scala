package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-key dedup/coalesce: keep only the highest-`seq` event per (repo, path)
  * within a batch. This collapses (a) exact duplicate deliveries of the same
  * (partition, offset) — the at-least-once replay the reference tolerates
  * only implicitly (SURVEY §2.3 A5, /root/reference/cobra/cobra.go:193-204) —
  * and (b) multiple changes to one key in one batch, of which only the last
  * writer can matter under LWW.
  *
  * Implemented as groupBy + the `LastWriterAgg` aggregate with map-side
  * partial aggregation: a hot key (one file updated millions of times) is
  * reduced per-partition BEFORE the shuffle, so key skew does not serialize
  * (the fix for the reference's one-goroutine-per-hot-key bottleneck,
  * SURVEY §2.6 P5).
  */
object Dedup {

  /** One-pass formulation — the default: map-side partial aggregation
    * collapses each task's events to one candidate per locally-seen key
    * BEFORE the shuffle (events of a key cluster in a log partition, so the
    * reduction factor ≈ events-per-key), and the single shuffle moves only
    * candidates. The engine's one LWW per-key aggregate: merge-on-read delta
    * winners ([[graft.lake.MorRead.deltaWinners]]) run it too. */
  def lastWriterPerKey(events: DataFrame): DataFrame =
    events
      .groupBy(col("repo"), col("path"))
      .agg(graft.functions.LastWriterAgg.lastWriter(
        struct(col("op"), col("seq"), col("after")), col("seq")).as("_w"))
      .select(col("repo"), col("path"),
        col("_w.op").as("op"), col("_w.seq").as("seq"), col("_w.after").as("after"))

  /** Built-in-functions form (max_by) — identical semantics, but Spark plans
    * it as a SortAggregate (struct buffer ⇒ no hash aggregation); kept as
    * the unit test's reference form and the zero-custom-code fallback. */
  def lastWriterPerKeyMaxBy(events: DataFrame): DataFrame =
    events
      .groupBy(col("repo"), col("path"))
      .agg(max_by(struct(col("op"), col("seq"), col("after")), col("seq")).as("_w"))
      .select(col("repo"), col("path"),
        col("_w.op").as("op"), col("_w.seq").as("seq"), col("_w.after").as("after"))
}
