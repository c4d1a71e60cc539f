package graft

import graft.operators.ImporterCore
import graft.streaming.StreamImport

import java.sql.{Connection, DriverManager}

/** Every `ImporterCore` query, and every `StreamImport` gate whose
  * oracle reads only `events`, against its DuckDB oracle, in-suite.
  * The entity builds run the streaming folds (`StreamImport.entityBatch`),
  * so the stream-vs-batch specs compare two runs of one definition;
  * the hand-written `*Sql` oracles are the independent reference.
  * Comparison as in tools/check.py: columns sorted by name, every
  * value stringified, rows sorted.
  */
class EntityOracleSpec extends SparkSpec {

  private val entities = ImporterCore.queries.keys.filter(ImporterCore.oracles.contains).toSeq.sorted

  /** The corpus tables other than `events`, by file name. */
  private val otherTables = new java.io.File(sfDir).list().toSeq
    .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).filter(_ != "events")

  /** The streaming gates whose oracle names no table but `events`. */
  private val gates = StreamImport.queries.keys.filter { g =>
    StreamImport.oracles.get(g).exists(sql =>
      otherTables.forall(t => s"(?i)\\b$t\\b".r.findFirstIn(sql).isEmpty))
  }.toSeq.sorted

  private lazy val duck: Connection = {
    Class.forName("org.duckdb.DuckDBDriver")
    val c = DriverManager.getConnection("jdbc:duckdb:")
    c.createStatement().execute(
      s"CREATE VIEW events AS SELECT * FROM read_parquet('$sfDir/events.parquet')")
    c
  }

  override def afterAll(): Unit = {
    duck.close()
    // the materialized queries (imp_parse_route, the dedups) are done
    Scratch.releaseAll()
    super.afterAll()
  }

  /** Columns by name, rows as sorted tab-joined strings. */
  private def normalized(cols: Seq[String], rows: Seq[Seq[String]]): (Seq[String], Seq[String]) = {
    val order = cols.indices.sortBy(cols)
    (order.map(cols), rows.map(r => order.map(r).mkString("\t")).sorted)
  }

  private def oracleRows(sql: String): (Seq[String], Seq[String]) = {
    val rs = duck.createStatement().executeQuery(sql)
    val md = rs.getMetaData
    val cols = (1 to md.getColumnCount).map(md.getColumnLabel)
    val rows = Iterator.continually(rs).takeWhile(_.next())
      .map(r => cols.indices.map(i => String.valueOf(r.getString(i + 1)))).toVector
    normalized(cols, rows)
  }

  test("every ImporterCore query with an oracle is replayed") {
    assert(entities.length == 17)
  }

  test("every streaming gate whose oracle reads only events is replayed") {
    assert(gates.length == 18, gates)
  }

  private def check(name: String, query: => org.apache.spark.sql.DataFrame, sql: String): Unit =
    test(s"$name matches its DuckDB oracle") {
      val df = query
      val (sCols, sRows) = normalized(df.columns.toSeq,
        df.collect().toSeq.map(_.toSeq.map(String.valueOf)))
      val (dCols, dRows) = oracleRows(sql)
      assert(sCols == dCols, "column names differ")
      assert(sRows.nonEmpty, "empty result")
      assert(sRows.length == dRows.length, "row counts differ")
      val diff = sRows.zip(dRows).filter { case (a, b) => a != b }
      assert(diff.length == 0, s"differing rows; first (spark, duckdb): ${diff.headOption}")
    }

  entities.foreach(name =>
    check(name, ImporterCore.queries(name)(spark, sfDir), ImporterCore.oracles(name)))
  gates.foreach(name =>
    check(name, StreamImport.queries(name)(spark, sfDir), StreamImport.oracles(name)))
}
