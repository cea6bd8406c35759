package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The local Spark session of a spec: local[4], four shuffle partitions,
  * no UI. Each suite starts it on first use and stops it after its last
  * test. The UTC session time zone comes from the forked test JVM's
  * `javaOptions` in build.sbt.
  */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()
}
