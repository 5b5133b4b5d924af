package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan, ParsedStatement}

/**
 * Plan-level hardening of the SQL safety gate (SURVEY.md §4's "optional
 * hardening via parsed-plan allowlist"). The reference's validator is a
 * substring blocklist (`sql_generator.py:111`) which we port verbatim in
 * [[graft.SqlValidator]] — but substrings both over-reject (`created_at`)
 * and under-reject: side-effecting statements like `CACHE TABLE t AS
 * SELECT …`, `SET key=value`, or `REFRESH TABLE` contain none of the nine
 * blocked keywords and would execute. This guard parses the statement and
 * rejects anything that is not a pure query at the PLAN level, where
 * spelling tricks don't exist. [[graft.Engine.execute]] runs every
 * validated statement through it and executes the plan it returns.
 */
object ReadOnlyGuard {

  final class NotReadOnlyException(msg: String) extends IllegalArgumentException(msg)

  /** Parse `sql` and return its unresolved plan; throw unless it is a
    * side-effect-free query. */
  def assertReadOnly(spark: SparkSession, sql: String): LogicalPlan = {
    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    val offender: Option[LogicalPlan] = plan.collectFirst {
      case c: Command => c
      case i: InsertIntoStatement => i
      case p: ParsedStatement => p // DDL/utility statements pre-resolution
    }
    offender.foreach { node =>
      throw new NotReadOnlyException(
        s"not a read-only query: ${node.getClass.getSimpleName}")
    }
    plan
  }
}
