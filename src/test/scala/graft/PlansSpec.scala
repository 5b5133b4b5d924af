package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.ReadOnlyGuard

class ReadOnlyGuardSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  test("pure queries pass; side-effecting statements the string blocklist misses are rejected") {
    ReadOnlyGuard.assertReadOnly(spark, "SELECT 1")
    ReadOnlyGuard.assertReadOnly(spark, "SELECT a, COUNT(*) FROM t GROUP BY a LIMIT 10")
    // the string validator would also pass these — no blocked keyword:
    intercept[ReadOnlyGuard.NotReadOnlyException](
      ReadOnlyGuard.assertReadOnly(spark, "CACHE TABLE t2 AS SELECT 1"))
    intercept[ReadOnlyGuard.NotReadOnlyException](
      ReadOnlyGuard.assertReadOnly(spark, "SET spark.sql.shuffle.partitions=1"))
    intercept[ReadOnlyGuard.NotReadOnlyException](
      ReadOnlyGuard.assertReadOnly(spark, "REFRESH TABLE t"))
    // and classic writes at plan level (no substring tricks):
    intercept[ReadOnlyGuard.NotReadOnlyException](
      ReadOnlyGuard.assertReadOnly(spark, "insert into t values (1)"))
    intercept[ReadOnlyGuard.NotReadOnlyException](
      ReadOnlyGuard.assertReadOnly(spark, "drop table t"))
    // ...while a column merely NAMED created_at is fine here (the ported
    // validator rejects it — documented substring quirk, A9)
    ReadOnlyGuard.assertReadOnly(spark, "SELECT created_at FROM t")
  }
}
