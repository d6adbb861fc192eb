package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork, so
  * getOrCreate reuses a single SparkContext across suites). */
object TestSession {
  lazy val spark: SparkSession = graft.core.Sessions.local("graft-test", cores = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf: String = "/root/testdata/sf0.001"
  import org.apache.spark.sql.{DataFrame, Row}
  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Run `body` with session confs set, then restore each key's previous
    * value — or unset it, if it had none — even when `body` throws. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
