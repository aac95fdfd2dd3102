package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs — one JVM-wide session (getOrCreate)
  * so the suite doesn't pay session startup per spec class.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `body`'s result and the number of Spark jobs it submitted: the jobs
    * run under a fresh job group (broadcast and adaptive-stage threads
    * inherit it), counted through the status tracker. The tracker fills
    * from the asynchronous listener bus, so the count is read once it has
    * stopped moving for 300 ms (10 s at most).
    */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobsIn-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val result = try body finally sc.clearJobGroup()
    def jobs = sc.statusTracker.getJobIdsForGroup(group).length
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = jobs
    var still = 0
    while (still < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = jobs
      if (n == last) still += 1 else { still = 0; last = n }
    }
    (result, last)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}
