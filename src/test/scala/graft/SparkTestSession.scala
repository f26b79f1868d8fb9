package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run: the production
  * session (`GraftSession.build`) on 4 cores, so 4 shuffle partitions,
  * with a throwaway warehouse. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    val s = GraftSession.build("local[4]", "graft-test", None, 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Ids of the RDDs the session holds persisted. `RDD.unpersist` drops
    * an id at once, so the set is a deterministic release signal. */
  def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Clear the memo caches and unpersist every RDD earlier suites left
    * behind, so GC cannot shrink [[persistedIds]] while a spec reads it. */
  def releaseAll(): Unit = {
    Caches.clearAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Run `body` with the session confs `kv` set, then put back each
    * key's prior value (or unset it if it had none). */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
