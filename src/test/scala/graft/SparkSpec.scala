package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * getOrCreate — so suites don't pay repeated startup). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sql(q: String): DataFrame = spark.sql(q)

  /** Rows as a sorted Seq of string-ified tuples — order-insensitive
    * whole-result assertion. */
  def rowsOf(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString("|"))
}

object SparkSpec {
  /** The engine-wide confs the mains ship ([[LocalSession.engineConfs]]),
    * plus the suite's own master, partition count, extensions and
    * warehouse — so the specs run the config that ships. */
  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
    LocalSession.engineConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
