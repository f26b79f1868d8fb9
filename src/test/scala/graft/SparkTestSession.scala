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
