package graft.plans

import java.util.{Comparator, PriorityQueue => JPriorityQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
  LogicalPlan, Window => LWindow, WindowGroupLimit => LWindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension (charter preference (c)): per-key top-k
  * with NO sorting anywhere.
  *
  * Spark's own optimizer already recognizes
  * `row_number() OVER (PARTITION BY k ORDER BY o)` filtered to
  * `rn <= n` and inserts WindowGroupLimit (partial + final) — but both
  * phases SORT their partition before walking it, and the final Window
  * sorts again. [[TopKPerKeyStrategy]] pattern-matches the same logical
  * shape (stripping the inferred WindowGroupLimit) and plans two
  * [[TopKPerKeyExec]] phases instead:
  *
  *   partial heaps (≤k rows per key per input partition, map-side)
  *   → hash exchange on the keys
  *   → final heaps (+ rank emission)
  *
  * O(n·log k) comparisons end to end, no sort buffers, and only the
  * per-key survivors cross the shuffle — at 100 TB the removed
  * per-partition sorts are the dominant cost of the rank-filter idiom.
  *
  * Injected by [[graft.GraftExtensions]] into every [[graft.Graft.session]],
  * or added to a session the caller built by [[graft.Graft.attach]];
  * operators never install it. Queries keep their declarative
  * `row_number` form and silently plan through the custom operator.
  *
  * Memory bound: the partial phase holds at most
  * `spark.graft.topk.partialMaxKeys` (default 4M) key heaps; when the
  * budget fills, the current ≤k-per-key survivors are FLUSHED downstream
  * and the map restarts. Multiple partial emissions per key are merged
  * by the final phase, so flushing trades a little extra shuffle volume
  * for a hard map-side memory cap — the same move hash aggregation makes
  * when it falls back to sort-based merging, but without any sorting.
  * The final phase holds #distinct-keys-in-its-hash-partition × k rows,
  * the same envelope as hash aggregation on the key; sizing
  * `spark.sql.shuffle.partitions` to the key cardinality bounds it.
  */
object TopKPerKeyStrategy extends SparkStrategy {

  val PartialMaxKeysConf = "spark.graft.topk.partialMaxKeys"

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LFilter(cond, w: LWindow)
        if w.windowExpressions.size == 1 && w.partitionSpec.nonEmpty &&
          w.orderSpec.nonEmpty =>
      w.windowExpressions.head match {
        case alias @ Alias(
            WindowExpression(RowNumber(), _: WindowSpecDefinition), _) =>
          limitFromCond(cond, alias.toAttribute) match {
            case Some(k) if k >= 1 =>
              // the optimizer may already have inserted its sort-based
              // WindowGroupLimit below the Window — replace it too
              val source = w.child match {
                case wgl: LWindowGroupLimit => wgl.child
                case c => c
              }
              val maxKeys = math.max(1,
                org.apache.spark.sql.internal.SQLConf.get
                  .getConfString(PartialMaxKeysConf, (1 << 22).toString).toInt)
              val partial = TopKPerKeyExec(w.partitionSpec, w.orderSpec, k,
                source.output, partial = true, maxKeys, planLater(source))
              TopKPerKeyExec(w.partitionSpec, w.orderSpec, k, w.output,
                partial = false, maxKeys, partial) :: Nil
            case _ => Nil
          }
        case _ => Nil
      }
    case _ => Nil
  }

  /** `rn = 1`, `rn <= k`, `rn < k` — anything else falls back. */
  private def limitFromCond(cond: Expression, rn: Attribute): Option[Int] = {
    def lit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, _)  => Some(v)
      case Literal(v: Long, _) => Some(v.toInt)
      case _ => None
    }
    cond match {
      case EqualTo(a: Attribute, l) if a.semanticEquals(rn) =>
        lit(l).filter(_ == 1)
      case LessThanOrEqual(a: Attribute, l) if a.semanticEquals(rn) => lit(l)
      case LessThan(a: Attribute, l) if a.semanticEquals(rn) =>
        lit(l).map(_ - 1)
      case _ => None
    }
  }
}

/** One heap phase of per-key top-k. `partial = true` runs map-side on
  * whatever partitioning the child has and emits the ≤k survivors per
  * (key, partition) unranked, flushing the heap map downstream whenever
  * it reaches `maxPartialKeys` distinct keys (hard memory cap; the final
  * phase merges repeated emissions); `partial = false` requires
  * clustering on the keys (Spark inserts the hash exchange), merges, and
  * emits the child row plus the 1-based rank — the same output contract
  * as Window(row_number)+Filter.
  *
  * The final phase is SPILLABLE: when its heap map reaches the same
  * key budget with input remaining, the pruned heap contents and the
  * rest of the input stream to 8 local hash-stripe files (all rows of a
  * key land in one stripe, and pruning before spill is safe — a row
  * outside a key's current top-k can never re-enter it), and each
  * stripe is processed recursively with a deeper hash shift. Memory is
  * therefore bounded by the key budget at EVERY level, like hash
  * aggregation's external fallback — but still heap-based, no sorts.
  * `spillRows` in the SQL metrics counts rows that went to disk. */
case class TopKPerKeyExec(partitionExprs: Seq[Expression],
                          order: Seq[SortOrder], k: Int,
                          output: Seq[Attribute], partial: Boolean,
                          maxPartialKeys: Int,
                          child: SparkPlan)
    extends UnaryExecNode {

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] =
    if (partial) Map.empty
    else Map("spillRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "rows spilled to disk"))

  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) UnspecifiedDistribution
     else ClusteredDistribution(partitionExprs)) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def nodeName: String =
    if (partial) "TopKPerKey (partial)" else "TopKPerKey (final)"

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val partExprs = partitionExprs
    val sortOrder = order
    val limit = k
    val out = output
    val isPartial = partial
    val maxKeys = maxPartialKeys
    val spillMetric = if (partial) null else metrics("spillRows")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(partExprs, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // keep the k FIRST rows under ord ⇒ evict the LARGEST ⇒ max-heap
      val cmp = ord.reverse.asInstanceOf[Comparator[InternalRow]]
      def newHeaps() =
        new java.util.LinkedHashMap[UnsafeRow, JPriorityQueue[InternalRow]]()
      def ingestInto(
          heaps: java.util.LinkedHashMap[UnsafeRow, JPriorityQueue[InternalRow]],
          row: InternalRow): Unit = {
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new JPriorityQueue[InternalRow](limit + 1, cmp)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < limit) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      if (isPartial) {
        val heaps = newHeaps()
        // streaming flush: ingest until the key budget fills (or input
        // ends), emit the survivors, reset, repeat. Peak memory is
        // maxKeys × k rows regardless of input key cardinality.
        new Iterator[InternalRow] {
          private var pending: java.util.Iterator[InternalRow] =
            java.util.Collections.emptyIterator[InternalRow]()
          private def fill(): Unit =
            while (!pending.hasNext && (iter.hasNext || !heaps.isEmpty)) {
              while (iter.hasNext && heaps.size() < maxKeys)
                ingestInto(heaps, iter.next())
              val batch = new java.util.ArrayList[InternalRow]()
              heaps.values().forEach(h => batch.addAll(h))
              heaps.clear()
              pending = batch.iterator()
            }
          override def hasNext: Boolean = { fill(); pending.hasNext }
          override def next(): InternalRow = { fill(); pending.next() }
        }
      } else {
        val joined = new JoinedRow
        val rnRow = new GenericInternalRow(1)
        val outProj = UnsafeProjection.create(out, childOutput :+ out.last)
        val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
        val nFields = childOutput.length

        def emit(heaps: java.util.LinkedHashMap[UnsafeRow,
            JPriorityQueue[InternalRow]]): Iterator[InternalRow] =
          heaps.values().iterator().asScala.flatMap { heap =>
            val arr = heap.toArray(new Array[InternalRow](heap.size))
            java.util.Arrays.sort(arr, ord)
            arr.iterator.zipWithIndex.map { case (r, i) =>
              rnRow.setInt(0, i + 1)
              outProj(joined(r, rnRow))
            }
          }

        // hash-stripe spill: all rows of a key share a stripe; the
        // stripe index uses a level-shifted hash so recursion splits
        // the surviving key set again at each depth
        val stripes = 8
        def stripeOf(key: UnsafeRow, level: Int): Int =
          ((key.hashCode() >>> ((level * 3) % 28)) & 0x7fffffff) % stripes

        def process(input: Iterator[InternalRow],
                    level: Int): Iterator[InternalRow] = {
          val heaps = newHeaps()
          var spillFiles: Array[java.io.File] = null
          var writers: Array[java.io.DataOutputStream] = null
          def spillRow(row: InternalRow): Unit = {
            val u = toUnsafe(row)
            val s = stripeOf(keyProj(row), level)
            val bytes = u.getBytes
            writers(s).writeInt(bytes.length)
            writers(s).write(bytes)
            if (spillMetric != null) spillMetric.add(1)
          }
          while (input.hasNext && spillFiles == null) {
            ingestInto(heaps, input.next())
            // budget full with input remaining (and recursion still able
            // to split): divert everything to disk stripes
            if (heaps.size() >= maxKeys && input.hasNext && level < 9) {
              spillFiles = Array.fill(stripes)(
                java.io.File.createTempFile("graft-topk", ".spill"))
              spillFiles.foreach(_.deleteOnExit())
              writers = spillFiles.map(f => new java.io.DataOutputStream(
                new java.io.BufferedOutputStream(
                  new java.io.FileOutputStream(f), 1 << 16)))
              // pruned heap contents spill too — a row outside its
              // key's current top-k can never re-enter the top-k, so
              // pruning before spilling is lossless
              heaps.values().forEach(h => h.forEach(spillRow))
              heaps.clear()
              while (input.hasNext) spillRow(input.next())
              writers.foreach(_.close())
            }
          }
          if (spillFiles == null) emit(heaps)
          else {
            val files = spillFiles
            files.iterator.flatMap { f =>
              val rows = new Iterator[InternalRow] {
                private val in = new java.io.DataInputStream(
                  new java.io.BufferedInputStream(
                    new java.io.FileInputStream(f), 1 << 16))
                private var nextLen = readLen()
                private def readLen(): Int =
                  try in.readInt() catch {
                    case _: java.io.EOFException => in.close(); f.delete(); -1
                  }
                override def hasNext: Boolean = nextLen >= 0
                override def next(): InternalRow = {
                  val bytes = new Array[Byte](nextLen)
                  in.readFully(bytes)
                  val row = new UnsafeRow(nFields)
                  row.pointTo(bytes, nextLen)
                  nextLen = readLen()
                  row
                }
              }
              process(rows, level + 1)
            }
          }
        }
        process(iter, 0)
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}
