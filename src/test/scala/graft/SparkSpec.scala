package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs; sf0.001 keeps tests fast.
  * SPARK_GRAFT_SPEC_SF overrides the corpus for one-off scale runs
  * of individual suites (e.g. the eviction-exactness specs at
  * sf0.01) — the default stays the fast corpus.
  */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = sys.env.getOrElse("SPARK_GRAFT_SPEC_SF", "/root/testdata/sf0.001")

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // shared across suites — do not stop
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the production local filesystem, so every spec exercises it
      .config(LocalFs.confs.toMap)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
