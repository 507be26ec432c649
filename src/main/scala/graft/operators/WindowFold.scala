package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.collection.immutable.ArraySeq

/** The one sliding-window sweep behind RANGE ([[RangeSelect.FoldAgg]])
  * and every PromQL selector (graft.promql.PromQL). The reference
  * evaluates both the same way — `RangeSelectStream`
  * (query/src/range_select/plan.rs:967) and `RangeManipulate`
  * (range_manipulate.rs:64): each series is one sorted stream, and the
  * per-window accumulators update in a single pass.
  *
  * Slot `i` has timestamp `i·step + origin` and covers the half-open ms
  * interval `[lo_i, lo_i + width)`, `lo_i = i·step + origin + loOff`.
  * A sample feeds the slots whose interval holds it, clamped to
  * `bounds`; a sample that feeds none is dropped before the shuffle.
  * Chunk `c` owns the slot indices `[c·perChunk, (c+1)·perChunk)`, and
  * a sample is copied into every chunk it feeds — at most two when
  * `perChunk ≥ ceil(width/step)`. One shuffle on (series, chunk), each
  * partition sorted by (series, chunk, ts, inputs) and swept once with
  * a deque that holds exactly the current slot's window: CPU is
  * O(samples + Σ|window|), and a slot with an empty window emits
  * nothing. (A rangeBetween window recomputes each frame per row,
  * quadratic on dense series: 5.6× slower wall at 10× events.)
  */
object WindowFold {

  final case class Slots(step: Long, origin: Long, loOff: Long, width: Long,
      perChunk: Long, bounds: Option[(Long, Long)] = None) {
    require(step > 0 && width > 0 && perChunk > 0)
  }

  /** One window sample: `e(0)` its ts (Long), `e(1 + i)` input `i` as a
    * java.lang.Double, null for a null value. */
  type Entry = Array[Any]

  /** Input `in`'s (ts, value) pairs of the window samples with ts < end,
    * null values kept. */
  def series(w: Array[Entry], in: Int, end: Long): IndexedSeq[(Long, java.lang.Double)] = {
    var n = 0
    while (n < w.length && w(n)(0).asInstanceOf[Long] < end) n += 1
    val s = new Array[(Long, java.lang.Double)](n)
    var j = 0
    while (j < n) {
      s(j) = (w(j)(0).asInstanceOf[Long], w(j)(1 + in).asInstanceOf[java.lang.Double])
      j += 1
    }
    ArraySeq.unsafeWrapArray(s)
  }

  /** Input `in`'s non-null (ts, value) pairs of the window. */
  def values(w: Array[Entry], in: Int): IndexedSeq[(Long, Double)] = {
    val s = new Array[(Long, Double)](w.length)
    var n = 0
    var j = 0
    while (j < w.length) {
      val v = w(j)(1 + in)
      if (v != null) { s(n) = (w(j)(0).asInstanceOf[Long], v.asInstanceOf[Double]); n += 1 }
      j += 1
    }
    ArraySeq.unsafeWrapArray(if (n == s.length) s else java.util.Arrays.copyOf(s, n))
  }

  /** @param keys   series label columns, returned under their names
    * @param ts     epoch-ms time column
    * @param inputs value columns, cast to double
    * @param slot   name of the output slot-timestamp column
    * @param out    output fields after the slot
    * @param emit   (slot ts, the slot's non-empty window in ascending
    *               (ts, inputs) order) → the `out` values, or null for
    *               no row
    * @return (keys..., slot, out...)
    */
  def apply(df: DataFrame, keys: Seq[String], ts: Column, inputs: Seq[Column],
      slots: Slots, slot: String, out: Seq[StructField])(
      emit: (Long, Array[Entry]) => Array[Any]): DataFrame = {
    val Slots(step, origin, loOff, width, perChunk, bounds) = slots
    val nIn = inputs.length
    val keyCol = if (keys.isEmpty) lit(0L) else struct(keys.map(k => col(s"`$k`")): _*)
    val projected = df.select(
      keyCol.as("__k") +: ts.cast("long").as("__t") +:
        inputs.zipWithIndex.map { case (c, i) => c.cast("double").as(s"__in$i") }: _*)
    // slot indices this sample feeds: lo_i <= t < lo_i + width
    val base = col("__t") - (origin + loOff)
    val iHi0 = floor(base.cast("double") / step).cast("long")
    val iLo0 = floor((base - width).cast("double") / step).cast("long") + 1
    val (iLo, iHi) = bounds.fold((iLo0, iHi0)) { case (a, b) =>
      (greatest(iLo0, lit(a)), least(iHi0, lit(b))) }
    val keyed = projected
      .filter(iLo <= iHi)
      .withColumn("__c", explode(sequence(
        floor(iLo.cast("double") / perChunk).cast("long"),
        floor(iHi.cast("double") / perChunk).cast("long"))))
      .repartition(col("__k"), col("__c"))
      // inputs ride the sort as ts tie-breaks: a deterministic window
      // order, and for single-input first/last the explode path's
      // struct-lexicographic (ts, value) tie resolution
      .sortWithinPartitions(col("__k") +: col("__c") +: col("__t") +:
        (0 until nIn).map(i => col(s"__in$i")): _*)

    val outT = StructType(
      StructField("__k", keyed.schema("__k").dataType, nullable = keys.nonEmpty) +:
        StructField(slot, LongType, nullable = false) +: out)
    val (first, end) = bounds.fold((Long.MinValue, Long.MaxValue)) { case (a, b) => (a, b + 1) }

    val folded = keyed.mapPartitions { it =>
      new Iterator[Row] {
        private val pending = scala.collection.mutable.Queue.empty[Row]
        private val deque = new java.util.ArrayDeque[Entry]()
        private var key: Any = null
        private var chunk = 0L
        private var started = false
        private var nextI = 0L // next unemitted slot of the chunk
        private var endI = 0L  // first slot past the chunk
        private def emitUpTo(limit: Long): Unit = {
          val lim = math.min(limit, endI)
          while (nextI < lim) {
            val slotTs = nextI * step + origin
            while (!deque.isEmpty &&
              deque.peekFirst()(0).asInstanceOf[Long] < slotTs + loOff)
              deque.pollFirst()
            if (deque.isEmpty) nextI = lim // no window until the next sample
            else {
              // emitUpTo precedes every insert, so every entry has
              // ts < lo + width: the deque IS the slot's window
              val vals = emit(slotTs, deque.toArray(new Array[Entry](deque.size)))
              if (vals != null) {
                val row = new Array[Any](2 + vals.length)
                row(0) = key
                row(1) = slotTs
                System.arraycopy(vals, 0, row, 2, vals.length)
                pending += new GenericRow(row)
              }
              nextI += 1
            }
          }
        }
        private def advance(): Unit = {
          while (pending.isEmpty && it.hasNext) {
            val r = it.next()
            val k = r.get(0)
            val c = r.getLong(2 + nIn)
            if (!started || k != key || c != chunk) {
              if (started) { emitUpTo(endI); deque.clear() }
              key = k
              chunk = c
              nextI = math.max(c * perChunk, first)
              endI = math.min((c + 1) * perChunk, end)
              started = true
            }
            val t = r.getLong(1)
            // slots before this sample's first slot are final
            emitUpTo(Math.floorDiv(t - origin - loOff - width, step) + 1)
            val e = new Array[Any](1 + nIn)
            e(0) = t
            var i = 0
            while (i < nIn) {
              e(1 + i) = if (r.isNullAt(2 + i)) null else Double.box(r.getDouble(2 + i))
              i += 1
            }
            deque.addLast(e)
          }
          if (pending.isEmpty && started) {
            emitUpTo(endI); deque.clear(); started = false
          }
        }
        def hasNext: Boolean = { if (pending.isEmpty) advance(); pending.nonEmpty }
        def next(): Row = { if (pending.isEmpty) advance(); pending.dequeue() }
      }
    }(Encoders.row(outT))

    val outCols = col(slot) +: out.map(f => col(f.name))
    if (keys.isEmpty) folded.select(outCols: _*)
    else folded.select(keys.map(k => col(s"__k.`$k`").as(k)) ++ outCols: _*)
  }
}
