package graft

import org.apache.spark.sql.SparkSession

/** Pins the plain-SQL deployment path: a session constructed through
  * the `GraftExtensions` injector (what
  * `spark.sql.extensions=graft.functions.GraftExtensions` runs at
  * session build — a static conf, so in this shared-context JVM the
  * spec applies the same class via `withExtensions`) must expose every
  * graft native expression to SQL, with no library code invoked first
  * — including the parametric `graft_minhash(arr, k)`.
  */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injection registers every graft function for SQL-only users") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    // getOrCreate returns an existing session (ignoring the builder),
    // so detach the suite session first; the SparkContext is reused,
    // only the session state is fresh
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions()(_))
        .getOrCreate()
      def one(sql: String): Any = s.sql(sql).head().get(0)
      assert(one("SELECT long_dot(array(1L,2L,3L), array(4L,5L,6L))") == 32L)
      assert(one("SELECT graft_hash60('abc')").asInstanceOf[Long] > 0L)
      assert(one("SELECT graft_xorfold(array(5L, 3L))") == 6L)
      assert(one("SELECT graft_simhash32(array(1L))") == 1L)
      // k=8 alias and parametric form agree on the shared prefix
      val k8 = one("SELECT graft_minhash8(array(7L, 11L))")
        .asInstanceOf[scala.collection.Seq[Long]].toSeq
      val k12 = one("SELECT graft_minhash(array(7L, 11L), 12)")
        .asInstanceOf[scala.collection.Seq[Long]].toSeq
      assert(k8.length == 8 && k12.length == 12)
      assert(k12.take(8) == k8, "parametric minhash must share the k=8 coefficient prefix")
      val hashed = one("SELECT graft_hash60_all(array('a','b'))")
        .asInstanceOf[scala.collection.Seq[Long]].toSeq
      assert(hashed.length == 2 && hashed.forall(_ > 0))
      assert(one("SELECT graft_maxrun(array('a','a','b','a'))") == 2L)
      // null elements equal nothing (they break runs); empty folds to 0
      assert(one("SELECT graft_maxrun(array('a', CAST(NULL AS STRING), 'a'))") == 1L)
      assert(one("SELECT graft_maxrun(CAST(array() AS array<string>))") == 0L)
      // the payload kernel: fast path, and a quoted value through the
      // reference cast
      assert(one("""SELECT graft_json_long('{"a":[1],"k":41}', 'k')""") == 41L)
      assert(one("""SELECT graft_json_long('{"k":"7"}', 'k')""") == 7L)
      intercept[org.apache.spark.sql.AnalysisException](one("SELECT graft_json_long(1, 'k')"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
