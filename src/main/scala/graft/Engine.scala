package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Limit, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{LongType, StructType}
import graft.plans.ReadOnlyGuard
import java.time.LocalDateTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * Query executor — Spark replacement for the reference's execution path
 * (`/root/reference/app/routes/query.py:42-57`): where the reference
 * registers a pandas frame into a per-request DuckDB connection and fetches
 * the result once, we bind the DataFrame's plan to the name `df`
 * (`query.py:43`) inside the parsed statement, let Catalyst + whole-stage
 * codegen run it, and collect it once. Nothing is registered in the session
 * catalog, so any number of callers may share one `SparkSession`. The NL
 * question path is generate → validate → execute → duplicate-collapse,
 * exactly the reference pipeline (`query.py:33-57`).
 */
object Engine {

  /** Mirrors `QueryResult` (`/root/reference/app/schemas/models.py:24-26`),
    * with the collected rows as a local DataFrame instead of
    * `rows: List[Dict]`. */
  case class QueryResult(sql: String, result: DataFrame)

  /**
   * The generator emits double-quoted identifiers (`sql_generator.py:8-10`,
   * DuckDB dialect); Spark SQL wants backticks unless
   * `spark.sql.ansi.doubleQuotedIdentifiers` is on. The rewrite is
   * quote-aware: double-quoted spans inside single-quoted string literals
   * (reachable via the arbitrary-SQL path) are left untouched, including
   * doubled-'' escapes.
   */
  def toSparkSql(sql: String): String = {
    val out = new StringBuilder(sql.length)
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' => // copy the single-quoted literal verbatim ('' = escape)
          out.append('\'')
          i += 1
          var done = false
          while (i < sql.length && !done) {
            val c = sql.charAt(i)
            out.append(c)
            i += 1
            if (c == '\'') {
              if (i < sql.length && sql.charAt(i) == '\'') { out.append('\''); i += 1 }
              else done = true
            }
          }
        case '"' => // identifier span → backticks ("" = escaped quote)
          val start = i
          i += 1
          val ident = new StringBuilder
          var closed = false
          while (i < sql.length && !closed) {
            val c = sql.charAt(i)
            if (c == '"') {
              // Doubled "" inside the span is an escaped literal " in the
              // identifier (SQL standard); emit it as-is in the backtick span
              // and double any backticks (Spark's own escape) so `a"b` and
              // `a\`b` both round-trip.
              if (i + 1 < sql.length && sql.charAt(i + 1) == '"') { ident.append('"'); i += 2 }
              else { closed = true; i += 1 }
            } else { ident.append(c); i += 1 }
          }
          if (!closed) out.append(sql.substring(start)) // unterminated: verbatim
          else out.append('`').append(ident.toString.replace("`", "``")).append('`')
        case c =>
          out.append(c)
          i += 1
      }
    }
    out.toString
  }

  /** Raised for the reference's HTTP-400 upload rejections
    * (`/root/reference/app/routes/upload.py:20-22`). */
  final class UploadException(msg: String, cause: Throwable = null)
    extends IllegalArgumentException(msg, cause)

  /**
   * Composed ingest entry point — port of `POST /upload`
   * (`/root/reference/app/routes/upload.py:16-30`): extension gate (`.csv`
   * else the reference's 400 "Only CSV files allowed") → CSV read with
   * schema inference (`pd.read_csv`) → column profiling (`profile_csv`).
   * Read errors surface as the reference's catch-all 400
   * ("Error reading CSV: …", `upload.py:31-33`), with the read error as cause.
   */
  def load(spark: SparkSession, path: String): (DataFrame, Seq[Profiler.ColumnInfo]) = {
    if (!path.endsWith(".csv"))
      throw new UploadException("Only CSV files allowed")
    try {
      val df = graft.sources.CsvSource.read(spark, path)
      (df, Profiler.profile(df))
    } catch {
      case e: Exception => throw new UploadException(s"Error reading CSV: ${e.getMessage}", e)
    }
  }

  /** Most rows one answer may collect to the driver. The validator's
    * injected `LIMIT` keeps rule-generated SQL far below it; the cap bounds
    * statements whose "limit" substring suppressed that injection
    * (`a08_dedup_collapse` collects all 150,000 `orders` rows at sf0.1
    * before the collapse folds them). */
  val MaxCollectRows: Int = 500000

  /**
   * Execute one validated SELECT over the upload `df` (`query.py:42-45`)
   * and apply the duplicate collapse (`query.py:49-57`), collecting once:
   *  - [[graft.plans.ReadOnlyGuard]] parses the statement once and refuses
   *    anything that is not a query;
   *  - the upload's plan is bound to the name `df` as an outer CTE, so
   *    Spark's CTE scoping resolves `df` (subqueries, any case, an inner
   *    `WITH df` shadows it) and the session catalog is never written;
   *  - the rows are collected once under `LIMIT MaxCollectRows + 1` (a
   *    no-op when the statement's own `LIMIT` is smaller) and more than
   *    [[MaxCollectRows]] rows fail the answer;
   *  - the collapse runs on the collected rows, as the reference applies
   *    it to the fetched frame.
   * The result is a local DataFrame over the collected rows.
   */
  def execute(spark: SparkSession, df: DataFrame, validatedSql: String): DataFrame = {
    val query = ReadOnlyGuard.assertReadOnly(spark, toSparkSql(validatedSql))
    val bound = UnresolvedWith(query, Seq(("df", SubqueryAlias("df", df.queryExecution.analyzed), None)))
    val capped = DatasetBridge.ofRows(spark, Limit(Literal(MaxCollectRows + 1), bound))
    // bounded-collect: engine-answer-cap (at most MaxCollectRows + 1 rows)
    val rows = capped.collect()
    require(rows.length <= MaxCollectRows,
      s"result has more than $MaxCollectRows rows; add a LIMIT or aggregate")
    collapseDuplicates(spark, capped.schema, rows)
  }

  /**
   * Duplicate-row collapse over collected rows, port of `query.py:49-57`:
   * if any row is fully duplicated, group by ALL columns with a `count`
   * (non-null long) sorted by count descending; otherwise pass the rows
   * through. Pandas semantics are kept:
   *  - `duplicated()` is null-safe and, like Spark's grouping, treats all
   *    NaNs as one value and -0.0 as 0.0;
   *  - `groupby` drops rows with a null or NaN in any column
   *    (`dropna=True`, like Spark's `na.drop`), so null-only duplicates
   *    still trigger the collapse but leave no group;
   *  - `reset_index(name='count')` raises if a `count` column exists.
   * The first row of each group stands for it; ties keep first-seen order.
   */
  def collapseDuplicates(spark: SparkSession, schema: StructType, rows: Array[Row]): DataFrame = {
    val groups = mutable.LinkedHashMap.empty[Seq[Any], (Row, Long)]
    for (row <- rows) {
      val key = row.toSeq.map(groupKey)
      groups(key) = groups.get(key).fold((row, 1L)) { case (first, n) => (first, n + 1) }
    }
    if (groups.size == rows.length)
      return spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    require(!schema.fieldNames.contains("count"), "cannot insert count, already exists")
    val collapsed = groups.values.toSeq
      .filterNot { case (row, _) => row.toSeq.exists(isNa) }
      .sortBy { case (_, n) => -n }
      .map { case (row, n) => Row.fromSeq(row.toSeq :+ n) }
    spark.createDataFrame(collapsed.asJava, schema.add("count", LongType, nullable = false))
  }

  /** Equality key for duplicate detection: `+ 0.0` turns -0.0 into 0.0,
    * `doubleToLongBits` folds every NaN into one bit pattern, and binary
    * values compare by content. */
  private def groupKey(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d + 0.0)
    case f: Float => java.lang.Float.floatToIntBits(f + 0.0f)
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  private def isNa(v: Any): Boolean = v match {
    case null => true
    case d: Double => d.isNaN
    case f: Float => f.isNaN
    case _ => false
  }

  /**
   * Full NL pipeline (rule-based path of `query.py:33-45`): profile-provided
   * columns → rule SQL → validator → execute. The AI path (`query.py:34`,
   * network LLM) is out of engine scope; its contract — "execute an arbitrary
   * validated SELECT" — is [[executeSql]].
   */
  def answer(spark: SparkSession, df: DataFrame, question: String,
             columnsInfo: Seq[Profiler.ColumnInfo], now: LocalDateTime): QueryResult = {
    val sql = RuleSqlGenerator.generate(question, columnsInfo, now)
    val validated = SqlValidator.validate(sql, columnsInfo.map(_.name))
    QueryResult(validated, execute(spark, df, validated))
  }

  /** The AI-path contract: any externally produced SELECT, validated then
    * run. The validator keeps the reference's substring semantics for parity;
    * [[execute]] then refuses at plan level what the blocklist misses (e.g.
    * `CACHE TABLE … AS SELECT`) and caps the collected rows at
    * [[MaxCollectRows]], which an alias containing "limit" cannot bypass. */
  def executeSql(spark: SparkSession, df: DataFrame, sql: String): QueryResult = {
    val validated = SqlValidator.validate(sql, df.columns.toIndexedSeq)
    QueryResult(validated, execute(spark, df, validated))
  }
}
