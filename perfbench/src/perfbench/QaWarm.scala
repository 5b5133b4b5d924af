package perfbench

import graft.{Engine, Profiler, RuleSqlGenerator, SqlValidator}
import graft.sources.CsvSource
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import perfbench.Gen._

/** The answer a question must get, computed from the generated rows without
  * Spark. `rows` are canonical cell texts; `countOnly` questions (unordered
  * `SELECT *` cut by the injected LIMIT) check the row count and schema
  * only; `rejected` questions must be refused by the validator. */
final case class Expected(cols: Seq[String], rows: Seq[Seq[String]], ordered: Boolean,
    countOnly: Option[Int] = None, rejected: Boolean = false, baseCols: Int = 0)

/** Expected answers over one set of generated tables. Work shared by many
  * questions (a grouping, a sort) is done once per table. */
final class Oracle(tables: Map[String, Table]) {
  // "Last month" of Gen.Now (2024-07-15), written out rather than taken
  // from the generator, so a wrong window there cannot agree with the check.
  require(Gen.Now.getYear == 2024 && Gen.Now.getMonthValue == 7, s"window below assumes July 2024, not ${Gen.Now}")
  private val june1 = LocalDateTime.of(2024, 6, 1, 0, 0, 0)
  private val june30 = LocalDateTime.of(2024, 6, 30, 23, 59, 59)
  private val memo = scala.collection.mutable.Map.empty[String, Any]
  private def once[T](key: String)(f: => T): T = memo.getOrElseUpdate(key, f).asInstanceOf[T]

  /** Rows after the reference's duplicate collapse: if any row repeats,
    * one row per distinct row with its `count`; otherwise unchanged. */
  private def collapsed(cols: Seq[String], rows: Seq[Seq[String]], ordered: Boolean): Expected =
    if (rows.distinct.size == rows.size) Expected(cols, rows, ordered, baseCols = cols.size)
    else Expected(cols :+ "count", rows.groupBy(identity).toSeq.map { case (r, g) => r :+ g.size.toString },
      ordered = false, baseCols = cols.size)

  private val Which = "which (\\w+)".r
  private val CityIn = ".* in (\\w+)( last month)?$".r
  private val Num = "(-?\\d+)".r

  def expected(q: Question): Expected = {
    val t = tables(q.table)
    def c(n: String) = t.idx(n)
    def int(row: IndexedSeq[Any], n: String): Long = row(c(n)).asInstanceOf[Int].toLong
    def nums: Seq[Long] = Num.findAllIn(q.text).map(_.toLong).toSeq
    val all = t.cols.map(_.name)
    q.kind match {
      case Gen.Unsafe => Expected(Nil, Nil, ordered = false, rejected = true)
      case Gen.ShowAll =>
        Expected(all, Nil, ordered = false, countOnly = Some(math.min(200, t.rows.size)), baseCols = all.size)
      case Gen.Which =>
        val g = Which.findFirstMatchIn(q.text).get.group(1)
        val city = CityIn.findFirstMatchIn(q.text).map(_.group(1).capitalize)
        val rows = once(s"${t.name}/$g/$city") {
          t.rows.filter(r => city.forall(_ == r(c("City"))))
            .groupBy(r => canon(r(c(g)))).toSeq.map { case (k, rs) => Seq(k, rs.size.toString) }
        }
        collapsed(Seq(g, "count"), rows, ordered = false)
      case Gen.CityLastMonth =>
        val city = CityIn.findFirstMatchIn(q.text).get.group(1).capitalize
        val rows = once(s"lastmonth/$city") {
          t.rows.filter { r =>
            val d = r(c("Date")).asInstanceOf[LocalDateTime]
            r(c("City")) == city && !d.isBefore(june1) && !d.isAfter(june30)
          }
        }
        require(rows.size < 200, s"question selects ${rows.size} rows, above the row limit: ${q.text}")
        collapsed(all, rows.map(_.map(canon)), ordered = false)
      case Gen.TopK =>
        val k = nums.last.toInt
        val (cols, rows) = t.name match {
          case "lineitem" if q.text.contains("SUM(l_quantity)") =>
            val g = once("lineitem/qty") {
              t.rows.groupBy(int(_, "l_orderkey")).toSeq
                .map { case (o, rs) => (o, rs.map(int(_, "l_quantity")).sum) }
                .sortBy { case (o, s) => (-s, o) }
            }.take(k)
            (Seq("l_orderkey", "qty"), g.map { case (o, s) => Seq(o.toString, s.toString) })
          case "lineitem" =>
            val flag = q.text.split("'")(1)
            val p = c("l_extendedprice")
            val rs = once(s"lineitem/price/$flag") {
              t.rows.filter(_(c("l_returnflag")) == flag)
                .sortBy(r => (-r(p).asInstanceOf[Money].cents, int(r, "l_orderkey"), int(r, "l_linenumber")))
            }.take(k)
            (Seq("l_orderkey", "l_linenumber", "l_extendedprice"),
              rs.map(r => Seq("l_orderkey", "l_linenumber", "l_extendedprice").map(n => canon(r(c(n))))))
          case "customer" =>
            val nation = nums.head
            val rs = once(s"customer/$nation") {
              t.rows.filter(int(_, "c_nationkey") == nation)
                .sortBy(r => (-r(c("c_acctbal")).asInstanceOf[Money].cents, int(r, "c_custkey")))
            }.take(k)
            (Seq("c_custkey", "c_name", "c_acctbal"),
              rs.map(r => Seq("c_custkey", "c_name", "c_acctbal").map(n => canon(r(c(n))))))
          case "incidents" =>
            val sev = nums.head
            val g = once(s"incidents/$sev") {
              t.rows.filter(int(_, "Severity") >= sev).groupBy(r => r(c("City")).toString).toSeq
                .map { case (city, rs) => (city, rs.size.toLong, rs.map(int(_, "Duration")).sum) }
                .sortBy { case (city, _, m) => (-m, city) }
            }.take(k)
            (Seq("City", "n", "minutes"), g.map { case (a, b, m) => Seq(a, b.toString, m.toString) })
        }
        collapsed(cols, rows, ordered = true)
      case Gen.Collapse =>
        val bound = nums.last
        val (cols, keep) = t.name match {
          case "incidents" => (Seq("City", "Severity"), (r: IndexedSeq[Any]) => int(r, "Duration") < bound)
          case "lineitem" => (Seq("l_returnflag", "l_linestatus"), (r: IndexedSeq[Any]) => int(r, "l_partkey") <= bound)
          case "customer" => (Seq("c_mktsegment", "c_nationkey"), (r: IndexedSeq[Any]) => int(r, "c_custkey") <= bound)
        }
        val rows = t.rows.filter(keep)
        require(rows.size < 200, s"question selects ${rows.size} rows, above the row limit: ${q.text}")
        collapsed(cols, rows.map(r => cols.map(n => canon(r(c(n))))), ordered = false)
    }
  }
}

object Oracle {
  private def sortRows(rs: Seq[Seq[String]]): Seq[Seq[String]] = rs.map(_.mkString("\u0001")).sorted
    .map(_.split("\u0001", -1).toSeq)

  /** Compares a collected result against the expected answer; returns the
    * mismatch, if any. */
  def check(e: Expected, res: DataFrame, rows: Array[org.apache.spark.sql.Row],
      specs: Seq[ColSpec]): Option[String] = {
    val cols = res.columns.toSeq
    if (cols != e.cols) Some(s"columns $cols != ${e.cols}")
    else e.countOnly match {
      case Some(n) =>
        val types = res.schema.fields.map(_.dataType.simpleString).toSeq
        if (rows.length != n) Some(s"${rows.length} rows != $n")
        else if (types != specs.map(_.sparkType)) Some(s"types $types != ${specs.map(_.sparkType)}")
        else None
      case None =>
        val got = rows.toSeq.map(r => (0 until r.length).map(i => canon(r.get(i))))
        val (a, b) = if (e.ordered) (got, e.rows) else (sortRows(got), sortRows(e.rows))
        if (a != b) Some(s"rows differ: got ${a.take(3)}... (${a.size}) expected ${b.take(3)}... (${b.size})")
        else None
    }
  }
}

/** qa_warm: interactive questions over tables uploaded once. A closed loop of
  * `Sessions` concurrent sessions; each has its own SparkSession (its own
  * temp-view namespace for the engine's `df` view) and its own uploads of the
  * same CSVs, and asks its next question only after the previous answer is
  * fully collected. The uploaded frames stay as `Engine.load` returns them. */
final class QaWarm(spark: SparkSession, seed: Long, work: Path, tracer: Tracer) extends Workload {
  val Sessions = 2
  /** Five blocks of kinds with their repeats. After two, answers in the
    * next 10 s were still 20-35 % slower than later ones (JIT and code
    * generation still warming); after five they level off. */
  val WarmUpQuestions: Int = 5 * Gen.KindBlock.size
  val QuestionsPerSession = 400

  val clients: Int = Sessions
  val sessions: Seq[SparkSession] = Seq.fill(Sessions)(spark.newSession())
  private val questions = (0 until Sessions).map(s => Gen.sessionQuestions(seed, s, QuestionsPerSession))
  private var tables: Map[String, Table] = Map.empty
  private var frames: IndexedSeq[Map[String, (DataFrame, Seq[Profiler.ColumnInfo])]] = IndexedSeq.empty
  private var expected: Map[Question, Expected] = Map.empty
  private val next = Array.fill(Sessions)(0)
  private var csvBytes = 0L
  private val uploads = new java.util.concurrent.atomic.AtomicLong

  private var paths: Map[String, String] = Map.empty

  private def load(s: Int, path: String): (DataFrame, Seq[Profiler.ColumnInfo]) =
    tracer.op("engine.load", s, uploads.incrementAndGet())(Engine.load(sessions(s), path))

  /** `Engine.load` reads and profiles in one call, so the traced run times
    * the two layers on a second call of each, per session and CSV of the
    * last setup; the results are dropped. */
  override def traceSetupLayers(): Unit =
    for (s <- sessions.indices; p <- paths.values)
      tracer.op("qa.load_layers", s, uploads.incrementAndGet()) {
        val df = tracer.span("sources.csv_read")(CsvSource.read(sessions(s), p))
        tracer.span("profiler.profile")(Profiler.profile(df))
      }

  def setup(rep: Int): Unit = {
    tables = Gen.qaTables(seed)
    val dir = Files.createDirectories(work.resolve(s"qa-$rep"))
    val written = tables.map { case (n, t) => val p = dir.resolve(s"$n.csv"); n -> (p.toString, t.write(p)) }
    paths = written.map { case (n, (p, _)) => n -> p }
    csvBytes = written.values.map(_._2).sum * Sessions
    frames = sessions.indices.map(s => paths.map { case (n, p) => n -> load(s, p) })
    for (f <- frames; (n, (df, profile)) <- f) {
      val cols = tables(n).cols
      val types = df.schema.fields.map(c => c.name -> c.dataType.simpleString).toSeq
      if (types != cols.map(c => c.name -> c.sparkType)) sys.error(s"$n uploaded as $types")
      if (profile != cols.map(c => Profiler.ColumnInfo(c.name, c.tpe, c.semantic)))
        sys.error(s"$n profiled as $profile")
    }
    val oracle = new Oracle(tables)
    expected = questions.flatten.distinct.map(q => q -> oracle.expected(q)).toMap
  }

  /** Every session asks its first questions; the timed loop continues
    * after them. */
  def warmUp(): Unit =
    Workload.parallel(Sessions) { s =>
      (0 until WarmUpQuestions).foreach { i =>
        val o = ask(s, i, questions(s)(i))
        if (!o.ok) sys.error(s"warm-up question failed: ${o.error}")
      }
      next(s) = WarmUpQuestions
    }

  def op(client: Int, opId: Long): Outcome = {
    val qs = questions(client)
    val q = qs(next(client) % qs.size)
    next(client) += 1
    ask(client, opId, q)
  }

  /** generate → validate → execute → collect, then the check (untimed),
    * through `Engine.answer` / `Engine.executeSql`, traced or not. */
  private def ask(s: Int, opId: Long, q: Question): Outcome = {
    val sess = sessions(s)
    val (df, profile) = frames(s)(q.table)
    val e = expected(q)
    val t0 = System.nanoTime()
    // None: the validator refused the statement.
    val result: Option[(DataFrame, Array[org.apache.spark.sql.Row])] = try tracer.op("qa.answer", s, opId) {
      if (tracer.enabled) traceFrontEnd(q, df, profile)
      val res = tracer.span("engine.execute") {
        if (q.isSql) Engine.executeSql(sess, df, q.text).result
        else Engine.answer(sess, df, q.text, profile, Gen.Now).result
      }
      Some(res -> tracer.span("engine.collect")(res.collect()))
    } catch {
      case _: SqlValidator.UnsafeSqlException if e.rejected => None
    }
    val ns = System.nanoTime() - t0
    result match {
      case None => Outcome(ns, ok = true)
      case Some(_) if e.rejected => Outcome(ns, ok = false, error = s"not rejected: ${q.text}")
      case Some((res, rows)) =>
        val specs = tables(q.table).cols
        Oracle.check(e, res, rows, specs) match {
          case Some(err) => Outcome(ns, ok = false, error = s"${q.text}: $err")
          case None => Outcome(ns, ok = true, fired = res.columns.length > e.baseCols)
        }
    }
  }

  /** Traced only: the generator and validator calls that `Engine.answer` /
    * `executeSql` make, run once more on their own so each gets a span;
    * the results are dropped. */
  private def traceFrontEnd(q: Question, df: DataFrame, profile: Seq[Profiler.ColumnInfo]): Unit = {
    val sql = if (q.isSql) q.text
      else tracer.span("rule_sql_generator.generate")(RuleSqlGenerator.generate(q.text, profile, Gen.Now))
    val cols = if (q.isSql) df.columns.toIndexedSeq else profile.map(_.name)
    try tracer.span("sql_validator.validate")(SqlValidator.validate(sql, cols))
    catch { case _: SqlValidator.UnsafeSqlException => () }
  }

  def layerMetrics(d: LayerData, setup: LayerData): Seq[Metric] = {
    val n = d.ops.size.toDouble
    val c = d.counts
    def p50us(name: String) = Stats.median(d.spans.filter(_.name == name).map(_.ms * 1000))
    def p50ms(name: String) = Stats.median(d.spans.filter(_.name == name).map(_.ms))
    val loads = setup.spans.count(_.name == "engine.load").toDouble
    Seq(
      Metric("sources.csv_read_ms_p50", Stats.median(setup.spans.filter(_.name == "sources.csv_read").map(_.ms)), "ms"),
      Metric("profiler.profile_ms_p50", Stats.median(setup.spans.filter(_.name == "profiler.profile").map(_.ms)), "ms"),
      Metric("spark.jobs_per_upload", setup.counts.jobs / loads, "count"),
      Metric("sources.bytes_read_per_csv_byte", setup.counts.inputBytes.toDouble / csvBytes, "B/B"),
      Metric("rule_sql_generator.generate_us_p50", p50us("rule_sql_generator.generate"), "us"),
      Metric("sql_validator.validate_us_p50", p50us("sql_validator.validate"), "us"),
      Metric("engine.execute_ms_p50", p50ms("engine.execute"), "ms"),
      Metric("engine.collect_ms_p50", p50ms("engine.collect"), "ms"),
      Metric("engine.jobs_per_answer", c.jobs / n, "count"),
      Metric("engine.plan_ms_per_answer", c.planMs / n, "ms"),
      Metric("sources.input_bytes_per_answer", c.inputBytes / n, "B"),
      Metric("engine.collapse_fired_share", d.ops.count(_.fired) / n, "fraction"),
      Metric("spark.task_ms_per_answer", c.taskMs / n, "ms"),
      Metric("spark.stages_per_answer", c.stages / n, "count"),
      Metric("spark.codegen_compiles_per_answer", c.compiles / n, "count"),
      Metric("qa.answer_p95_ms", Stats.pct(d.ops.map(_.ms), 95), "ms"))
  }
}
