package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.mutable.ArrayBuffer
import scala.ref.WeakReference

/** The one lineage cut of the library. `Barrier(name, df)` is a local
  * checkpoint of `df`: the plan above it reads stored blocks, so a frame
  * with several consumers, or a loop's previous round, is computed once.
  * Lazy by default (the blocks fill in the caller's next action).
  *
  * Its blocks belong to the innermost owner open on the calling thread:
  * a [[MemoCache]] entry being built (released when the entry is
  * evicted or cleared), else a query [[scope]] (released when it
  * closes), else nobody (GC lets Spark's ContextCleaner drop them). An
  * owner holds its barriers weakly, so GC still drops a dead round
  * early. A released barrier cannot recompute: a local checkpoint has
  * no lineage below it.
  */
object Barrier {

  /** The barriers one owner cut, in creation order. */
  private[graft] final class Owner {
    private val cut = ArrayBuffer.empty[(String, WeakReference[RDD[_]])]
    private[Barrier] def add(name: String, rdds: Seq[RDD[_]]): Unit =
      synchronized(rdds.foreach(r => cut += name -> WeakReference(r)))
    def names: Seq[String] = synchronized(cut.map(_._1).toSeq)
    def release(): Unit = synchronized(cut.foreach(_._2.get.foreach(unpersist)))
  }

  private val owners = ThreadLocal.withInitial[List[Owner]](() => Nil)

  // a checkpoint's blocks belong to the RDD in its LogicalRDD leaf, which
  // Dataset.unpersist never touches
  private def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  // drops the RDD from `sc.getPersistentRDDs` at once, its blocks async
  private def unpersist(rdd: RDD[_]): Unit = rdd.unpersist(blocking = false)

  def apply(name: String, df: DataFrame, eager: Boolean = false): DataFrame = {
    val b = df.localCheckpoint(eager)
    owners.get.headOption.foreach(_.add(name, rdds(b)))
    b
  }

  /** Give back the blocks of every barrier `df` reads, before its owner
    * closes (a loop's previous round). */
  def release(df: DataFrame): Unit = rdds(df).foreach(unpersist)

  /** Run `body` with `owner` as the innermost owner on this thread. */
  private[graft] def owning[T](owner: Owner)(body: => T): T = {
    owners.set(owner :: owners.get)
    try body finally owners.set(owners.get.tail)
  }

  /** Run `body` as one query: the barriers it cuts outside a memo entry
    * are released when it ends, normally or by a throw. Returns its
    * value and the names of the barriers the scope owned. */
  def scope[T](body: => T): (T, Seq[String]) = {
    val owner = new Owner
    try (owning(owner)(body), owner.names) finally owner.release()
  }
}
