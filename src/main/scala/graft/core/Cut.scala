package graft.core

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias, Union}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one owner of checkpoint blocks: every `localCheckpoint` in the
  * engine is made and released here.
  *
  * A cut is a lazy ([[lazyCut]]) or eager ([[eager]]) `localCheckpoint`.
  * A lazy cut is Spark's, unchanged. An eager cut materializes in ONE
  * job that also counts its rows and bytes, and carries those numbers as
  * its plan's statistics (Spark's own checkpoint copies the origin plan's
  * estimates): the planner sizes joins over it from what was stored, and
  * [[rows]] answers size gates and emptiness checks with no job. The
  * same pass can gather one small caller aggregate, the distinct values
  * of an int key ([[eagerKeyed]]) — a touched-bucket set.
  *
  * The other thing this module adds is ownership. A cut belongs to the
  * innermost [[scope]] open on the calling thread; with none open it is
  * unowned and its blocks go when the ContextCleaner collects the frame,
  * as a raw checkpoint's do. On exit a scope releases, newest first,
  * every cut it owns that its result does not read; the ones the result
  * does read move to the enclosing scope (or become unowned). "Reads"
  * follows the result's plans and the RDD lineage under them, so a lazy
  * cut that has not materialized yet keeps the cuts it will read alive
  * too.
  *
  * A released cut has no blocks and no lineage: any later action on it
  * fails instead of recomputing. [[release]] frees exactly one cut,
  * never the other checkpoints in a frame's plan — those may belong to
  * a caller.
  */
object Cut {

  /** Every RDD this module checkpointed, weakly held, with the row count
    * of an eager cut: the set that tells a cut from any other
    * `LogicalRDD` (a `foreachBatch` micro-batch, a frame built from an
    * RDD). */
  private val made = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], Option[Long]]())

  /** The local property behind `SparkContext.setCallSite`. */
  private val ShortCallSite = "callSite.short"

  /** The open scopes on this thread, innermost first. */
  private val open =
    ThreadLocal.withInitial[List[mutable.ArrayBuffer[RDD[_]]]](() => Nil)

  /** `ds.localCheckpoint(false)`: materializes under the first action
    * that reads it. */
  def lazyCut[T](ds: Dataset[T]): Dataset[T] =
    register(ds)((ds.localCheckpoint(false), None))

  /** `ds.localCheckpoint(true)`, counted: materialized before it returns,
    * with its row count and byte size as its statistics. */
  def eager[T](ds: Dataset[T]): Dataset[T] = counted(ds, None)._1

  /** [[eager]], gathering in the same job the sorted distinct non-null
    * values of the int column `key` over the cut's rows. */
  def eagerKeyed[T](ds: Dataset[T], key: Column): (Dataset[T], Seq[Int]) =
    counted(ds, Some(key))

  /** The row count of the eager cut `ds` is, or projects (a `select`,
    * `withColumn` or `drop` over it keeps every row): known without a job.
    * None for any other frame — a lazy cut, a filter, a join. */
  def rows(ds: Dataset[_]): Option[Long] = {
    def walk(p: LogicalPlan): Option[Long] = p match {
      case lr: LogicalRDD => Option(made.get(lr.rdd)).flatten
      case Project(_, child) => walk(child)
      case SubqueryAlias(_, child) => walk(child)
      case _ => None
    }
    walk(ds.queryExecution.analyzed)
  }

  /** The call form at the sites: `df.cut()` is [[lazyCut]], `df.cutNow()`
    * is [[eager]] and `df.cutNow(key)` is [[eagerKeyed]]. */
  implicit class CutOps[T](private val ds: Dataset[T]) extends AnyVal {
    def cut(): Dataset[T] = lazyCut(ds)
    def cutNow(): Dataset[T] = eager(ds)
    def cutNow(key: Column): (Dataset[T], Seq[Int]) = eagerKeyed(ds, key)
  }

  /** Spark's lazy checkpoint (under AQE its shuffle stages run here), then
    * ONE job over its RDD that stores every partition — what Spark's eager
    * checkpoint does — and counts rows, bytes and `key` values as it goes. */
  private def counted[T](ds: Dataset[T], key: Option[Column]): (Dataset[T], Seq[Int]) = {
    val bound = key.map(ColumnBridge.boundOver(ds, _))
    val fallbackRowBytes = ds.schema.defaultSize.toLong + 8L
    var keys = Seq.empty[Int]
    val cut = register(ds) {
      val cp = ds.localCheckpoint(false)
      val rdd = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
      val parts = cp.sparkSession.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => tally(it, bound, fallbackRowBytes))
      keys = parts.iterator.flatMap(_._3).toSeq.distinct.sorted
      val rows = parts.map(_._1).sum
      (ColumnBridge.withStatistics(cp, rows, parts.map(_._2).sum), Some(rows))
    }
    (cut, keys)
  }

  /** One partition's rows, bytes and distinct `key` values. */
  private def tally(it: Iterator[InternalRow], key: Option[Expression],
                    fallbackRowBytes: Long): (Long, Long, Set[Int]) = {
    val project = key.map(k => UnsafeProjection.create(Seq(k)))
    var rows, bytes = 0L
    val keys = scala.collection.mutable.Set.empty[Int]
    it.foreach { row =>
      rows += 1
      bytes += (row match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => fallbackRowBytes
      })
      project.foreach { p =>
        val k = p(row)
        if (!k.isNullAt(0)) keys += k.getInt(0)
      }
    }
    (rows, bytes, keys.toSet)
  }

  /** Runs `body` owning the cuts made inside it (see the object doc).
    * If `body` throws, every cut it made is released and the exception
    * is rethrown, with any release failure suppressed onto it. */
  def scope[A](body: => A): A = scopeWith(_.unpersist(blocking = false))(body)

  /** [[scope]] with the release of one RDD given (CutSpec plants a
    * failing one). */
  private[core] def scopeWith[A](free: RDD[_] => Unit)(body: => A): A = {
    val outer = open.get
    val mine = mutable.ArrayBuffer.empty[RDD[_]]
    open.set(mine :: outer)
    val result =
      try body
      catch {
        case t: Throwable =>
          releaseAll(mine.reverseIterator, free).foreach(t.addSuppressed)
          throw t
      } finally open.set(outer)
    val kept = readBy(result, mine.toSet)
    outer.headOption.foreach(_ ++= mine.filter(kept))
    releaseAll(mine.reverseIterator.filterNot(kept), free).foreach(e => throw e)
    result
  }

  /** Releases the cut `ds` is, now — for a superseded cut that must not
    * wait for its scope. A frame that is not itself a cut (a view of
    * one included) is an IllegalArgumentException. */
  def release(ds: Dataset[_]): Unit = ds.queryExecution.analyzed match {
    case lr: LogicalRDD if made.containsKey(lr.rdd) =>
      open.get.foreach(_ -= lr.rdd)
      lr.rdd.unpersist(blocking = false)
    case plan =>
      throw new IllegalArgumentException(
        s"Cut.release takes a cut, not a frame derived from one:\n$plan")
  }

  /** True when `ds` reads nothing but cuts, through `Project`, `Filter`
    * and `Union` only: reading it again reads the cuts' blocks, so a
    * second copy would be pure storage. */
  def isView(ds: Dataset[_]): Boolean = {
    def narrow(p: LogicalPlan): Boolean = p.subqueries.isEmpty && (p match {
      case lr: LogicalRDD => made.containsKey(lr.rdd)
      case _: Project | _: Filter | _: Union => p.children.forall(narrow)
      case _ => false
    })
    narrow(ds.queryExecution.analyzed)
  }

  /** Checkpoints under the caller's call site, so the cut's RDDs (and an
    * eager cut's jobs) name the line that asked for the cut rather than
    * this file, as a raw `localCheckpoint` there would; the previous
    * call-site property is restored afterwards. */
  private def register[T](ds: Dataset[T])(
      checkpoint: => (Dataset[T], Option[Long])): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    val previous = sc.getLocalProperty(ShortCallSite)
    val caller = Thread.currentThread.getStackTrace.iterator.drop(1).find { f =>
      val c = f.getClassName
      c != "graft.core.Cut" && !c.startsWith("graft.core.Cut$")
    }
    caller.foreach(f => sc.setCallSite(s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    val (cut, rows) = try checkpoint finally sc.setLocalProperty(ShortCallSite, previous)
    val rdd = cut.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    made.put(rdd, rows)
    open.get.headOption.foreach(_ += rdd)
    cut
  }

  /** Frees each RDD; returns the first failure with the later ones
    * suppressed onto it. */
  private def releaseAll(rdds: Iterator[RDD[_]],
                         free: RDD[_] => Unit): Option[Throwable] = {
    val failed = rdds.flatMap(rdd => Try(free(rdd)).failed.toOption).toList
    failed.headOption.map { first => failed.tail.foreach(first.addSuppressed); first }
  }

  /** The members of `cuts` that `result` reads: the RDDs behind the
    * frames it holds (through tuples, options, case classes and
    * collections), and their lineage. */
  private def readBy(result: Any, cuts: Set[RDD[_]]): Set[RDD[_]] = {
    val seen = mutable.Set.empty[RDD[_]]
    val todo = mutable.Stack.from(if (cuts.isEmpty) Iterator.empty else roots(result))
    while (todo.nonEmpty) {
      val rdd = todo.pop()
      if (seen.add(rdd)) todo.pushAll(rdd.dependencies.map(_.rdd))
    }
    cuts.filter(seen)
  }

  private def roots(x: Any): Iterator[RDD[_]] = x match {
    case ds: Dataset[_] => ds.queryExecution.analyzed
      .collectWithSubqueries { case lr: LogicalRDD => lr.rdd }.iterator
    case i: Iterable[_] => i.iterator.flatMap(roots)
    case p: Product => p.productIterator.flatMap(roots)
    case _ => Iterator.empty
  }
}
