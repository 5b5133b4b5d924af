package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

class EngineSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def collapse(df: DataFrame): DataFrame =
    Engine.collapseDuplicates(spark, df.schema, df.collect())

  test("collapse: duplicates → group-by-all + count desc; invariants hold") {
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("b", 2), ("b", 2), ("c", 3))
      .toDF("s", "n")
    val collapsed = collapse(df)
    val rows = collapsed.collect()
    assert(rows.map(_.getLong(2)).sum == 6) // sum(count) == original rows
    assert(collapsed.count() == collapsed.dropDuplicates().count()) // no dups left
    assert(rows.head.getLong(2) == 3) // sorted by count desc
    assert(collapsed.columns.toSeq == Seq("s", "n", "count"))
    assert(collapsed.schema("count") == StructField("count", LongType, nullable = false))
  }

  test("collapse: no duplicates → passthrough unchanged") {
    val df = Seq(("a", 1), ("b", 2)).toDF("s", "n")
    val out = collapse(df)
    assert(out.columns.toSeq == Seq("s", "n")) // no count column added
    assert(out.count() == 2)
  }

  test("collapse: pandas parity — rows with null keys are dropped when grouping") {
    val df = Seq(Some("a"), Some("a"), None, None).toDF("s")
    val out = collapse(df).collect()
    assert(out.length == 1) // only the 'a' group survives (pandas dropna=True)
    assert(out.head.getString(0) == "a" && out.head.getLong(1) == 2)
  }

  test("collapse: null-only duplicates still TRIGGER the collapse (pandas duplicated() is null-safe)") {
    // unique non-null rows + duplicated null rows: reference sees
    // duplicated().any()==True on the full frame, then drops nulls in the
    // groupby — output is the non-null groups with count 1
    val df = Seq(Some("a"), Some("b"), None, None).toDF("s")
    val out = collapse(df)
    assert(out.columns.toSeq == Seq("s", "count")) // collapse branch taken
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("a", 1L), ("b", 1L)))
  }

  test("toSparkSql: double quotes inside single-quoted literals are preserved") {
    assert(Engine.toSparkSql("""SELECT "a b" FROM df WHERE note = 'say "hi"'""") ==
      """SELECT `a b` FROM df WHERE note = 'say "hi"'""")
    // doubled-quote escape inside a literal
    assert(Engine.toSparkSql("""SELECT "c" FROM df WHERE x = 'it''s "q"'""") ==
      """SELECT `c` FROM df WHERE x = 'it''s "q"'""")
  }

  test("toSparkSql: doubled-quote escapes inside identifiers") {
    // DuckDB "a""b" is identifier a"b → Spark `a"b` (not a broken `a``b`)
    assert(Engine.toSparkSql("""SELECT "a""b" FROM df""") ==
      "SELECT `a\"b` FROM df")
    // backticks inside a quoted identifier must be doubled for Spark
    assert(Engine.toSparkSql("SELECT \"a`b\" FROM df") ==
      "SELECT `a``b` FROM df")
    // unterminated span copied verbatim (no silent mangling)
    assert(Engine.toSparkSql("""SELECT "oops""") == """SELECT "oops""")
  }

  test("load: composed ingest with extension gate (upload.py parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-load").toFile
    val f = new java.io.File(dir, "incidents.csv")
    val w = new java.io.PrintWriter(f)
    w.println("service,city,occurred_date")
    w.println("Checkout,Mumbai,2024-02-10")
    w.println("Search,Delhi,2024-02-12")
    w.close()
    val (df, cols) = Engine.load(spark, f.getAbsolutePath)
    assert(df.count() == 2)
    assert(cols.map(_.name) == Seq("service", "city", "occurred_date"))
    assert(cols.find(_.name == "city").get.semanticType == "city")
    // non-.csv extension → the reference's 400 "Only CSV files allowed"
    val e = intercept[Engine.UploadException](Engine.load(spark, "/tmp/nope.parquet"))
    assert(e.getMessage == "Only CSV files allowed")
    // unreadable .csv → the reference's catch-all 400 "Error reading CSV: …",
    // carrying the read error as its cause
    val missing = intercept[Engine.UploadException](
      Engine.load(spark, new java.io.File(dir, "missing.csv").getAbsolutePath))
    assert(missing.getCause != null)
    assert(missing.getMessage == s"Error reading CSV: ${missing.getCause.getMessage}")
  }

  test("collapse: existing count column + duplicates errors like pandas reset_index") {
    val df = Seq(("a", 1L), ("a", 1L)).toDF("s", "count")
    intercept[IllegalArgumentException](collapse(df).collect())
  }

  test("answer: full pipeline over an in-memory incidents table") {
    val df = Seq(
      ("Checkout", "Mumbai", "2024-02-10"),
      ("Checkout", "Mumbai", "2024-02-11"),
      ("Search", "Delhi", "2024-02-12"),
      ("Search", "Mumbai", "2023-11-01"))
      .toDF("service", "city", "d")
      .withColumn("occurred_date", col("d").cast("timestamp")).drop("d")
    val cols = Profiler.profile(df)
    val res = Engine.answer(spark, df, "Which service failed in mumbai last month?",
      cols, java.time.LocalDateTime.of(2024, 3, 5, 9, 0))
    assert(res.sql ==
      """SELECT "service", COUNT(*) as count FROM df WHERE "city" = 'Mumbai' AND "occurred_date" >= '2024-02-01T00:00:00' AND "occurred_date" <= '2024-02-29T23:59:59' GROUP BY "service" LIMIT 200""")
    val rows = res.result.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == Map("Checkout" -> 2L)) // Delhi row and old Mumbai row excluded
  }

  test("executeSql rejects unsafe SQL end to end") {
    val df = Seq((1, "x")).toDF("a", "b")
    intercept[SqlValidator.UnsafeSqlException](
      Engine.executeSql(spark, df, "DROP TABLE df"))
  }

  test("collapse: NaN equals NaN and -0.0 equals 0.0, as in Spark's grouping") {
    def rows(df: DataFrame) = df.collect().map(r => (r.getDouble(0), r.getLong(1))).toSet
    def sparkGrouping(df: DataFrame) = rows(df.na.drop().groupBy("x").count())
    // the only duplicates are NaNs: the collapse fires, then the grouping
    // drops NaN rows like nulls (pandas dropna, Spark na.drop)
    val nans = Seq(1.0, Double.NaN, Double.NaN).toDF("x")
    val out = collapse(nans)
    assert(out.columns.toSeq == Seq("x", "count"))
    assert(rows(out) == Set((1.0, 1L)) && rows(out) == sparkGrouping(nans))
    // -0.0 and 0.0 are one group
    val zeros = Seq(0.0, -0.0, 1.0).toDF("x")
    val zeroGroups = rows(collapse(zeros))
    assert(zeroGroups == Set((0.0, 2L), (1.0, 1L)) && zeroGroups == sparkGrouping(zeros))
  }

  test("execute: df binds like a table — subqueries, any case, self-joins, inner WITH df shadows it") {
    val df = Seq(1, 2, 3).toDF("n")
    def ns(sql: String) = Engine.executeSql(spark, df, sql).result.collect().map(_.getInt(0)).toSeq
    assert(ns("SELECT n FROM df WHERE n > (SELECT MIN(n) FROM DF) ORDER BY n") == Seq(2, 3))
    assert(ns("SELECT a.n FROM df a JOIN df b ON a.n = b.n + 1 ORDER BY a.n") == Seq(2, 3))
    assert(ns("WITH df AS (SELECT 9 AS n) SELECT n FROM df") == Seq(9))
  }

  test("execute: two threads on one session each get answers from their own frame") {
    val frames = Seq(Seq(1).toDF("v"), Seq(2).toDF("v"))
    val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = frames.zipWithIndex.map { case (df, i) =>
      new Thread(() => {
        start.await()
        for (_ <- 1 to 150) {
          try {
            val got = Engine.executeSql(spark, df, "SELECT v FROM df").result.collect().map(_.getInt(0)).toSeq
            if (got != Seq(i + 1)) wrong.add(s"frame ${i + 1} answered $got")
          } catch { case e: Exception => wrong.add(s"frame ${i + 1} failed: $e") }
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(wrong.isEmpty, wrong.toArray.take(3).mkString("; "))
  }

  test("execute: a frame built in another session answers from that frame") {
    // an earlier answer in this session must leave nothing a later one reads
    Engine.executeSql(spark, Seq(42L).toDF("n"), "SELECT n FROM df").result.collect()
    val foreign = spark.newSession().range(3).toDF("n")
    val got = Engine.executeSql(spark, foreign, "SELECT n FROM df ORDER BY n").result
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 2L))
  }

  test("executeSql refuses CACHE TABLE and leaves the catalog and cache unchanged") {
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val (tablesBefore, cachedBefore) = (tables, spark.sparkContext.getRDDStorageInfo.length)
    val df = Seq((1, "x")).toDF("a", "b")
    intercept[plans.ReadOnlyGuard.NotReadOnlyException](
      Engine.executeSql(spark, df, "CACHE TABLE leaked AS SELECT * FROM df"))
    assert(tables == tablesBefore && !tables.contains("leaked"))
    assert(spark.sparkContext.getRDDStorageInfo.length == cachedBefore)
  }

  test("execute: the row cap holds against a 'limit' alias; a smaller LIMIT is kept") {
    val big = spark.range(Engine.MaxCollectRows + 1).toDF("n")
    // the alias suppresses the validator's LIMIT injection (A10 quirk)...
    val e = intercept[IllegalArgumentException](
      Engine.executeSql(spark, big, "SELECT n AS rate_limit FROM df"))
    assert(e.getMessage.contains(s"more than ${Engine.MaxCollectRows} rows"))
    // ...and an explicit smaller LIMIT stays as written
    assert(Engine.executeSql(spark, big, "SELECT * FROM df LIMIT 7").result.count() == 7)
  }
}
