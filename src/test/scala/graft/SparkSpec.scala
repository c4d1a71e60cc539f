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
  /** The production session ([[Graft.session]]: the RocksDB state
    * store, the [[LocalFs]] binding and graft's confs), sized for
    * specs.
    */
  lazy val session: SparkSession = {
    val s = Graft.session(master = "local[4]", shufflePartitions = 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
