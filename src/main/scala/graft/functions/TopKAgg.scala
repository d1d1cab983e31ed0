package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.LongInputTypes
import org.apache.spark.sql.types._

/** Bounded top-k aggregate over (score: long, id: long) pairs, ordered
  * (score DESC NULLS LAST, id ASC NULLS FIRST) — exactly `row_number() OVER
  * (ORDER BY score DESC, id) <= k` semantics per group (including Spark's
  * default null ordering on BOTH keys), without the window's global
  * per-group sort: each task keeps at most k candidates (map-side partial
  * aggregation), so a query's ~nProbe·N/C candidate rows never serialize
  * through one window task. Returns array<struct<score,id>> in rank order.
  *
  * Why custom (same reasoning as [[LastWriterAgg]]): a window over the
  * candidate set materializes every candidate of a group in one task's sort
  * buffer; the built-in struct-sort alternatives (`slice(array_sort(
  * collect_list(...)))`) still gather ALL candidates into one aggregation
  * buffer. This keeps O(k) state per group at every stage.
  *
  * Both inputs must be LONG: any other type fails analysis (a data type
  * mismatch), never a ClassCastException inside a task.
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAgg.Buffer] with LongInputTypes {

  require(k > 0, s"TopKAgg: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = TopKAgg.OutType

  override def createAggregationBuffer(): TopKAgg.Buffer = new TopKAgg.Buffer(k)

  override def update(b: TopKAgg.Buffer, input: InternalRow): TopKAgg.Buffer = {
    val idv = id.eval(input)
    val s = score.eval(input)
    b.insert(s != null, if (s == null) 0L else s.asInstanceOf[Long],
      idv != null, if (idv == null) 0L else idv.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKAgg.Buffer, o: TopKAgg.Buffer): TopKAgg.Buffer = {
    var i = 0
    while (i < o.n) { b.insert(o.has(i), o.scores(i), o.idHas(i), o.ids(i)); i += 1 }
    b
  }

  override def eval(b: TopKAgg.Buffer): Any = {
    val rows = new Array[Any](b.n)
    var i = 0
    while (i < b.n) {
      rows(i) = InternalRow(if (b.has(i)) b.scores(i) else null,
        if (b.idHas(i)) b.ids(i) else null)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(b: TopKAgg.Buffer): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 + b.n * 18)
    out.putInt(b.n)
    var i = 0
    while (i < b.n) {
      out.put(if (b.has(i)) 1.toByte else 0.toByte).putLong(b.scores(i))
        .put(if (b.idHas(i)) 1.toByte else 0.toByte).putLong(b.ids(i))
      i += 1
    }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Buffer = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt
    val b = new TopKAgg.Buffer(k)
    var i = 0
    while (i < n) { b.insert(in.get() == 1, in.getLong, in.get() == 1, in.getLong); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKAgg =
    copy(score = c(0), id = c(1))
  override def prettyName: String = "bounded_topk"
}

object TopKAgg {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("score", LongType, nullable = true),
    StructField("id", LongType, nullable = true))), containsNull = false)

  /** Rank-ordered bounded buffer: parallel arrays sorted by
    * (score: has desc then value desc, id: null FIRST then value asc) —
    * Spark's default DESC/ASC null orderings — at most k entries. */
  final class Buffer(k: Int) {
    var n: Int = 0
    val has = new Array[Boolean](k)
    val scores = new Array[Long](k)
    val idHas = new Array[Boolean](k)
    val ids = new Array[Long](k)

    /** (h, s, ih, i) strictly better than slot j?
      * score DESC NULLS LAST, id ASC NULLS FIRST. */
    private def better(h: Boolean, s: Long, ih: Boolean, i: Long, j: Int): Boolean =
      if (h != has(j)) h
      else if (h && s != scores(j)) s > scores(j)
      else if (ih != idHas(j)) !ih // null id ranks first on a score tie
      else ih && i < ids(j)

    def insert(h: Boolean, s: Long, ih: Boolean, i: Long): Unit = {
      if (n == has.length && !better(h, s, ih, i, n - 1)) return
      var pos = if (n < has.length) n else n - 1
      while (pos > 0 && better(h, s, ih, i, pos - 1)) {
        has(pos) = has(pos - 1); scores(pos) = scores(pos - 1)
        idHas(pos) = idHas(pos - 1); ids(pos) = ids(pos - 1)
        pos -= 1
      }
      has(pos) = h; scores(pos) = s; idHas(pos) = ih; ids(pos) = i
      if (n < has.length) n += 1
    }
  }

  /** bounded_topk(score, id, k) as a Column (see [[LastWriterAgg.lastWriter]]
    * for the ColumnBridge rationale). */
  def topK(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      TopKAgg(ColumnBridge.expression(score), ColumnBridge.expression(id), k)
        .toAggregateExpression())
  }
}
