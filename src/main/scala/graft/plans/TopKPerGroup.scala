package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, LessThan, LessThanOrEqual, Literal, RowNumber, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LogicalFilter, LogicalPlan, Window => LogicalWindow, WindowGroupLimit => LogicalWindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Native top-k-per-group: the custom `SparkStrategy` + `SparkPlan` rung of
  * the extension ladder (SURVEY §4.3 (c) — whole-operator semantics that
  * composition can't express EFFICIENTLY).
  *
  * The idiomatic DataFrame spelling
  * `row_number().over(partitionBy(g).orderBy(o)) <= k` plans by default as
  * exchange → per-partition FULL SORT → WindowExec → filter: O(n log n)
  * comparisons and a fully materialized sort buffer per partition even
  * though only k rows per group survive. (Spark's InferWindowGroupLimit
  * inserts a pre-limiter below the Window, but the surviving rows are
  * still sorted and ranked by the full WindowExec machinery.)
  *
  * [[TopKPerGroupStrategy]] recognizes exactly that logical pattern —
  * `Filter(rn ≤ k, Window([rn := row_number() over (p, o)], p, o, child))`
  * — and plans [[TopKPerGroupExec]] instead: hash-cluster on the group
  * keys (EnsureRequirements inserts the one exchange), then ONE pass per
  * partition maintaining a bounded k-row binary heap per group —
  * O(n log k), no sort, memory bounded by groups·k rows instead of the
  * partition. Ranks are assigned on emission, so the operator is
  * row-for-row equivalent to the window form (ties in `o` are arbitrary in
  * BOTH forms; catalog queries use total orders).
  *
  * Scale: at 100 TB this is the difference between sorting every
  * partition of a shuffled fact table and streaming it once through a
  * groups·k-row heap; the pre-exchange WindowGroupLimit (kept — it plans
  * below us) additionally caps what the exchange itself carries.
  *
  * The strategy fires only on the exact safe shape: single row_number
  * window expression, non-empty partition+order specs, literal int k in
  * (0, 100000]. Everything else falls through to the default planner.
  *
  * Memory contract: the PARTIAL (map-side) phase FLUSHES its group map
  * every `spark.graft.topk.maxGroupsPerPartition` distinct groups
  * (default 1M) — flushing early just forwards more candidate rows, so
  * it is always correct — which bounds map-side heap to maxGroups × k
  * rows regardless of key cardinality. The FINAL phase holds at most
  * the same bound in memory; past it the group map SPILLS to disk as a
  * key-sorted run (each group's ≤k candidate rows behind its key
  * bytes) and a streaming k-way merge over the runs re-combines each
  * group's candidates at emission — heap stays bounded at
  * maxGroups × k rows plus one in-flight group per run, on ANY group
  * cardinality, and the answer is bit-identical to the in-memory fast
  * path (UnsafeRow key bytes order the runs; byte-equality IS group
  * equality, the same invariant the hash map relies on). A workload
  * whose group keys are near-unique per row degrades to roughly an
  * external sort-merge — the default spillable WindowExec plan is then
  * no better. The strategy is opt-in per session (`TopK.install`); a
  * session that does not install it keeps that default plan.
  */
object TopKPerGroupStrategy extends SparkStrategy {

  val maxGroupsKey = "spark.graft.topk.maxGroupsPerPartition"

  private def maxGroups: Int =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString(maxGroupsKey, (1 << 20).toString).toInt

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case f: LogicalFilter if f.child.isInstanceOf[LogicalWindow] =>
      val w = f.child.asInstanceOf[LogicalWindow]
      (w.windowExpressions, w.partitionSpec, w.orderSpec) match {
        case (Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)), part, order)
            if part.nonEmpty && order.nonEmpty =>
          val rn = alias.toAttribute
          val k = f.condition match {
            case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType))
                if a.semanticEquals(rn) => v
            case LessThan(a: Attribute, Literal(v: Int, IntegerType))
                if a.semanticEquals(rn) => v - 1
            case _ => -1
          }
          if (k > 0 && k <= 100000) {
            require(maxGroups >= 1,
              s"$maxGroupsKey must be >= 1, got $maxGroups")
            // skip Spark's sort-based pre-limiter (InferWindowGroupLimit
            // may have inserted it below the Window): the heap phases
            // subsume it without the sorts it requires
            val source = w.child match {
              case wgl: LogicalWindowGroupLimit => wgl.child
              case c => c
            }
            val bound = maxGroups
            val partial = TopKPerGroupExec(part, order, k, None,
              partial = true, bound, planLater(source))
            TopKPerGroupExec(part, order, k, Some(rn),
              partial = false, bound, partial) :: Nil
          } else Nil
        case _ => Nil
      }
    case _ => Nil
  }
}

/** Per-partition bounded-heap top-k-per-group.
  *
  * Two-phase: the PARTIAL instance runs before the exchange (map-side
  * combine — each map partition forwards at most groups·k rows, no rank,
  * no ordering requirement; its group map flushes every `maxGroups`
  * distinct groups so map-side heap stays bounded on near-unique keys),
  * the FINAL instance runs on the clustered side and assigns ranks on
  * emission. Past `maxGroups` distinct groups the final map spills to a
  * key-sorted disk run and the emit phase streams a k-way merge over
  * the runs — exact answers on any cardinality, memory bounded at
  * maxGroups·k rows. The fast path (no spill) never sorts anything;
  * the degrade path sorts only group KEYS at spill time (groups·log
  * groups key compares, never row data).
  */
case class TopKPerGroupExec(
    partExprs: Seq[Expression],
    orderSpec: Seq[SortOrder],
    k: Int,
    rnAttr: Option[Attribute],
    partial: Boolean,
    maxGroups: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rnAttr.get

  override def producedAttributes: AttributeSet = AttributeSet(rnAttr.toSeq)

  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) UnspecifiedDistribution
     else ClusteredDistribution(partExprs)) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupExec"

  // UI/explain observability: the degrade path should be VISIBLE — a
  // query quietly spilling every partition is the signal to raise the
  // bound or disable the strategy, and without a metric that signal
  // only exists in executor temp-dir churn
  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] =
    if (partial) Map(
      "numFlushes" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "map-side group-map flushes"))
    else Map(
      "numSpills" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "final-phase spill runs"),
      "spillBytes" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createSizeMetric(sparkContext, "final-phase spill bytes"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val orderSer = orderSpec
    val partSer = partExprs
    val kk = k
    val out = output
    val isPartial = partial
    val groupBound = maxGroups
    val mFlushes = metrics.get("numFlushes")
    val mSpills = metrics.get("numSpills")
    val mSpillBytes = metrics.get("spillBytes")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(partSer, childOutput)
      val ord = GenerateOrdering.generate(orderSer, childOutput)
      // java PQ head = least by comparator; evict the WORST row, so the
      // heap comparator is the REVERSED sort order (head = current worst)
      val heapCmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ord.compare(b, a)
      }
      val groups = new java.util.LinkedHashMap[
        UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      def insert(row: InternalRow): Unit = {
        val key = keyProj(row)
        var heap = groups.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kk + 1, heapCmp)
          groups.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      if (isPartial) {
        // forward the survivors unranked; order within groups irrelevant.
        // The map flushes every `groupBound` distinct groups — a flushed
        // group may re-open and forward up to k more candidates, which the
        // final phase merges, so flushing is always correct and map-side
        // heap is bounded at groupBound·k rows on ANY key cardinality.
        new Iterator[InternalRow] {
          private var current: java.util.Iterator[InternalRow] =
            java.util.Collections.emptyIterator()
          private var drain: java.util.Iterator[
            java.util.PriorityQueue[InternalRow]] =
            java.util.Collections.emptyIterator()
          private def refill(): Unit = {
            while (iter.hasNext && groups.size() < groupBound)
              insert(iter.next())
            // input remaining with a full map = a real bound-driven flush
            if (iter.hasNext) mFlushes.foreach(_.add(1))
            if (!groups.isEmpty()) {
              drain = new java.util.ArrayList(groups.values()).iterator()
              groups.clear()
            }
          }
          override def hasNext: Boolean = {
            while (!current.hasNext) {
              if (drain.hasNext) current = drain.next().iterator()
              else if (iter.hasNext || !groups.isEmpty()) refill()
              else return false
            }
            true
          }
          override def next(): InternalRow = current.next()
        }
      } else {
        // FINAL phase. Fast path: all groups fit the bound → emit straight
        // from the map. Degrade path: each time the map passes the bound it
        // spills as a key-sorted run; emission is then a streaming k-way
        // merge over the runs (groups with the same key bytes re-combine
        // through the same bounded heap), so memory never exceeds
        // bound·k rows + one in-flight group per run.
        val nRowFields = childOutput.length
        val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
        val spills = new java.util.ArrayList[java.io.File]()
        val openStreams = new java.util.ArrayList[java.io.Closeable]()
        // completion-time cleanup owns BOTH handles and files: early
        // downstream termination (LIMIT/take/exception) must not leak
        // open fds or spill files. deleteOnExit is deliberately NOT
        // used — its JVM-global registry never shrinks on long-lived
        // executors.
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          openStreams.forEach { s =>
            try s.close() catch { case _: Exception => () }
          }
          spills.forEach(f => { f.delete(); () })
        }
        // spill scratch goes to Spark's provisioned local dirs, resolved
        // in the same precedence order Spark's own Utils.getLocalDir
        // uses: under YARN/K8s/standalone the cluster manager exports
        // LOCAL_DIRS / SPARK_LOCAL_DIRS / SPARK_EXECUTOR_DIRS and Spark
        // IGNORES spark.local.dir, so reading only the conf would land
        // spills on java.io.tmpdir (often a small root volume) exactly
        // in the degrade path where scratch volume matters
        val spillDir = TopKPerGroupExec.resolveSpillDir()
        def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
          val n = math.min(a.length, b.length)
          var i = 0
          while (i < n) {
            val d = (a(i) & 0xff) - (b(i) & 0xff)
            if (d != 0) return d
            i += 1
          }
          a.length - b.length
        }
        def rowBytes(r: InternalRow): Array[Byte] = r match {
          case u: UnsafeRow => u.getBytes
          case other => toUnsafe(other).getBytes
        }
        def spillMap(): Unit = {
          if (groups.isEmpty) return
          val f = java.io.File.createTempFile("graft-topk-", ".run", spillDir)
          val os = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(f), 1 << 16))
          try {
            val keys = new java.util.ArrayList[UnsafeRow](groups.keySet())
            keys.sort(new java.util.Comparator[UnsafeRow] {
              override def compare(a: UnsafeRow, b: UnsafeRow): Int =
                cmpBytes(a.getBytes, b.getBytes)
            })
            keys.forEach { key =>
              val kb = key.getBytes
              os.writeInt(kb.length); os.write(kb)
              val heap = groups.get(key)
              os.writeInt(heap.size())
              val hIt = heap.iterator()
              while (hIt.hasNext) {
                val rb = rowBytes(hIt.next())
                os.writeInt(rb.length); os.write(rb)
              }
            }
          } finally os.close()
          groups.clear()
          spills.add(f)
          mSpills.foreach(_.add(1))
          mSpillBytes.foreach(_.add(f.length()))
        }
        while (iter.hasNext) {
          insert(iter.next())
          if (groups.size() > groupBound) spillMap()
        }
        val resultProj = UnsafeProjection.create(out, out)
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        val rankRow = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(1)
        // drains one bounded heap into rank order (worst row at the head)
        def drainHeap(heap: java.util.PriorityQueue[InternalRow])
            : Array[InternalRow] = {
          val arr = new Array[InternalRow](heap.size)
          var i = arr.length - 1
          while (i >= 0) { arr(i) = heap.poll(); i -= 1 } // worst-first
          arr
        }
        val groupArrays: Iterator[Array[InternalRow]] =
          if (spills.isEmpty) {
            val groupIt = groups.values().iterator()
            new Iterator[Array[InternalRow]] {
              override def hasNext: Boolean = groupIt.hasNext
              override def next(): Array[InternalRow] = drainHeap(groupIt.next())
            }
          } else {
            spillMap() // remainder joins the merge as the last run
            // one sequential reader per run; runs are key-sorted, so a
            // heap of run heads yields groups in global key order and
            // byte-equal heads ARE the same group across runs
            type Run = TopKPerGroupExec.SpillRun
            def newRun(f: java.io.File): Run = {
              val r = new TopKPerGroupExec.SpillRun(f)
              openStreams.add(r) // completion listener closes stragglers
              r
            }
            val pq = new java.util.PriorityQueue[Run](
              math.max(1, spills.size()),
              new java.util.Comparator[Run] {
                override def compare(a: Run, b: Run): Int = cmpBytes(a.key, b.key)
              })
            spills.forEach { f =>
              val r = newRun(f)
              if (r.advance()) { pq.add(r); () }
            }
            new Iterator[Array[InternalRow]] {
              override def hasNext: Boolean = !pq.isEmpty()
              override def next(): Array[InternalRow] = {
                val first = pq.poll()
                // capture BEFORE feed(): advance() reassigns first.key to
                // the run's next group
                val gKey = first.key
                val heap = new java.util.PriorityQueue[InternalRow](kk + 1, heapCmp)
                def feed(run: Run): Unit = {
                  var i = 0
                  while (i < run.rows.length) {
                    val u = new UnsafeRow(nRowFields)
                    u.pointTo(run.rows(i), run.rows(i).length)
                    if (heap.size < kk) { heap.add(u); () }
                    else if (ord.compare(u, heap.peek()) < 0) {
                      heap.poll(); heap.add(u); ()
                    }
                    i += 1
                  }
                  if (run.advance()) { pq.add(run); () }
                }
                feed(first)
                while (!pq.isEmpty() && cmpBytes(pq.peek().key, gKey) == 0)
                  feed(pq.poll())
                drainHeap(heap)
              }
            }
          }
        new Iterator[InternalRow] {
          private var current: Array[InternalRow] = Array.empty
          private var pos = 0
          override def hasNext: Boolean = {
            while (pos >= current.length && groupArrays.hasNext) {
              current = groupArrays.next()
              pos = 0
            }
            pos < current.length
          }
          override def next(): InternalRow = {
            val row = current(pos)
            rankRow.setInt(0, pos + 1)
            pos += 1
            resultProj(joined(row, rankRow))
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKPerGroupExec {

  /** Spill scratch directory, mirroring Spark's `Utils.getLocalDir`
    * precedence: cluster-manager env (`LOCAL_DIRS` on YARN,
    * `SPARK_EXECUTOR_DIRS` / `SPARK_LOCAL_DIRS` on standalone/K8s)
    * overrides `spark.local.dir`, which overrides `java.io.tmpdir`.
    * (Utils itself is private[spark], so the order is replicated here;
    * the env hook is injectable for the spec.) */
  private[plans] def resolveSpillDir(
      getenv: String => String = System.getenv): java.io.File = {
    val fromEnv = Seq("LOCAL_DIRS", "SPARK_EXECUTOR_DIRS", "SPARK_LOCAL_DIRS")
      .iterator.map(getenv).find(v => v != null && v.nonEmpty)
    val fromConf = Option(org.apache.spark.SparkEnv.get)
      .flatMap(env => Option(env.conf.get("spark.local.dir", null)))
    val tmp = System.getProperty("java.io.tmpdir")
    val candidates =
      (fromEnv.toSeq ++ fromConf.toSeq :+ tmp)
        .iterator
        .flatMap(_.split(',').iterator.map(_.trim).filter(_.nonEmpty))
        .map(new java.io.File(_))
    candidates.find(_.isDirectory)
      .getOrElse(new java.io.File(tmp))
  }

  /** Sequential reader over one key-sorted spill run.
    *
    * EOF contract: end-of-file is CLEAN only at a record boundary (the
    * very first length read of a group record). Once a record has
    * started, EOF means the run file is truncated or corrupt (disk
    * full, scratch eviction) — swallowing it would silently drop every
    * remaining group in the run and emit an incomplete but
    * plausible-looking result, so [[advance]] throws instead. */
  private[plans] final class SpillRun(file: java.io.File)
      extends java.io.Closeable {
    private val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(
        new java.io.FileInputStream(file), 1 << 16))
    var key: Array[Byte] = null
    var rows: Array[Array[Byte]] = null
    override def close(): Unit = in.close()
    def advance(): Boolean = {
      val kl =
        try in.readInt()
        catch {
          case _: java.io.EOFException =>
            in.close(); key = null
            return false
        }
      try {
        key = new Array[Byte](kl); in.readFully(key)
        val n = in.readInt()
        if (n < 0) throw new java.io.IOException(
          s"corrupt top-k spill run $file: negative group size $n")
        rows = new Array[Array[Byte]](n)
        var i = 0
        while (i < n) {
          val rl = in.readInt()
          rows(i) = new Array[Byte](rl); in.readFully(rows(i))
          i += 1
        }
        true
      } catch {
        case e: java.io.EOFException =>
          throw new java.io.IOException(
            s"truncated top-k spill run $file: EOF inside a record " +
              "(disk full or scratch-file corruption); failing rather " +
              "than emitting a partial result", e)
      }
    }
  }
}

/** Idempotent per-session installer (`experimental.extraStrategies`): the
  * only way the strategy reaches a session. `GraftExtensions` injects
  * functions only, so engine sessions plan the default window operators
  * unless a caller installs this on its own child session. */
object TopK {
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_.isInstanceOf[TopKPerGroupStrategy.type]))
      spark.experimental.extraStrategies = cur :+ TopKPerGroupStrategy
  }
}
