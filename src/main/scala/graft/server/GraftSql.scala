package graft.server

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.PlanBridge

/** One-call SQL-text entry covering the FULL graft surface, callable
  * without installing the session extensions (embedding apps, tests,
  * the verify harness): the statement goes through the same
  * [[GraftSqlParser]] that pgwire, HTTP and Connect sessions parse
  * with — matview DDL and maintenance, matview rebinding, EXPLAIN
  * [REWRITE], aggregate navigation, `graft_*( … )` procedures,
  * temporal clauses, graft DML and recursive CTEs. A session that
  * carries `graft.GraftExtensions` already parses with it; any other
  * session's parser is wrapped for the one statement.
  */
object GraftSql {
  def sql(spark: SparkSession, text: String): DataFrame = {
    val parser = PlanBridge.sqlParser(spark) match {
      case p: GraftSqlParser => p
      case p => new GraftSqlParser(spark, p)
    }
    PlanBridge.ofRows(spark, parser.parsePlan(text))
  }
}
