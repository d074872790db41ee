package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites (JVM-wide singleton —
  * ScalaTest runs suites in one forked JVM, getOrCreate dedups). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfSmoke = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"

  /** Run `f` with `spark.graft.graphDriverEdgeCap` at `cap` (0 forces
    * every distributed graph path), then unset it. */
  def withCap[A](cap: Long)(f: => A): A = {
    spark.conf.set("spark.graft.graphDriverEdgeCap", cap.toString)
    try f finally spark.conf.unset("spark.graft.graphDriverEdgeCap")
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
