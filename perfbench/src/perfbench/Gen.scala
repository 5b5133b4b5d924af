package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.util.Random

/** One CSV column: its header, the Spark type CSV schema inference must give
  * it, and the (type, semantic type) pair the engine's profiler must report.
  * The expected profile is written out per column, not derived by running
  * the profiler's rules, so the check is independent of the code it checks. */
final case class ColSpec(name: String, sparkType: String, tpe: String, semantic: String)

/** Cents as a two-decimal CSV value. `toDouble` equals what CSV parsing of
  * the rendered text yields: both round the same decimal to the nearest
  * double. */
final case class Money(cents: Long) {
  def toDouble: Double = cents / 100.0
  override def toString: String = BigDecimal(BigInt(cents), 2).toString
}

/** A generated table: typed cells, rendered once to CSV text. Cells are Int,
  * Money, String or LocalDateTime; none is null and none holds a comma,
  * quote or newline, so the CSV needs no quoting. */
final case class Table(name: String, cols: IndexedSeq[ColSpec], rows: IndexedSeq[IndexedSeq[Any]]) {
  def idx(c: String): Int = cols.indexWhere(_.name == c)
  def csv: String = {
    val sb = new StringBuilder(rows.size * 16 * cols.size)
    sb.append(cols.map(_.name).mkString(",")).append('\n')
    rows.foreach { r =>
      var i = 0
      while (i < r.size) {
        if (i > 0) sb.append(',')
        sb.append(Gen.render(r(i)))
        i += 1
      }
      sb.append('\n')
    }
    sb.toString
  }
  def write(path: Path): Long = {
    val bytes = csv.getBytes(StandardCharsets.UTF_8)
    Files.write(path, bytes)
    bytes.length.toLong
  }
}

/** Seeded input generator. Every input of every workload comes from here and
  * from the seed alone: table contents, question order and the curation
  * corpus. The shapes follow the engine's test tables (TPC-H-style lineitem
  * and customer, word-salad documents with 64-dim embeddings) and the
  * reference's incidents table (City, Service, Date). Proportions (question
  * kinds, repeat share, table and corpus sizes) are fixed; the seed moves
  * contents and order only, so different seeds measure the same mix. */
object Gen {
  val TsFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def render(v: Any): String = v match {
    case t: LocalDateTime => TsFmt.format(t)
    case other            => other.toString
  }

  /** The canonical text of a cell value, as generated or as collected from
    * Spark (timestamps arrive as java.sql.Timestamp in the JVM's zone, which
    * the benchmark runs in UTC like the session). */
  def canon(v: Any): String = v match {
    case null                  => "null"
    case m: Money              => java.lang.Double.toString(m.toDouble)
    case d: Double             => java.lang.Double.toString(d)
    case t: java.sql.Timestamp => TsFmt.format(t.toLocalDateTime)
    case t: LocalDateTime      => TsFmt.format(t)
    case n: java.lang.Number   => n.longValue.toString
    case other                 => other.toString
  }

  /** Fixed clock for the rule generator's "last month" window (June 2024). */
  val Now: LocalDateTime = LocalDateTime.of(2024, 7, 15, 10, 0, 0)
  private val TsStart = LocalDateTime.of(2023, 1, 1, 0, 0, 0)
  private val TsSpanSec = java.time.Duration.between(TsStart, Now.withHour(0)).getSeconds

  private def ts(r: Random): LocalDateTime = TsStart.plusSeconds((r.nextDouble() * TsSpanSec).toLong)
  private def pick[T](r: Random, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  private def money(r: Random, lo: Long, hi: Long): Money = Money(lo + (r.nextDouble() * (hi - lo)).toLong)

  /** The rule generator's city list, capitalized as its filter emits it,
    * plus cities it does not know. */
  val Cities: IndexedSeq[String] =
    graft.RuleSqlGenerator.Cities.map(_.capitalize).toIndexedSeq ++
      IndexedSeq("Jaipur", "Lucknow", "Surat", "Indore")
  val Services: IndexedSeq[String] = IndexedSeq("Water Supply", "Electricity", "Roads", "Waste",
    "Street Lights", "Drainage", "Parks", "Transport", "Health", "Housing")

  // ---- table shapes: columns and a row generator ---------------------------

  final case class Template(name: String, cols: IndexedSeq[ColSpec],
      gen: (Random, Int) => IndexedSeq[IndexedSeq[Any]]) {
    def table(r: Random, n: Int): Table = Table(name, cols, gen(r, n))
  }

  private def num(n: String, semantic: String = "date") = ColSpec(n, "int", "numeric", semantic)
  private def dbl(n: String, semantic: String = "date") = ColSpec(n, "double", "numeric", semantic)
  private def str(n: String, semantic: String = "other") = ColSpec(n, "string", "string", semantic)
  private def tsc(n: String) = ColSpec(n, "timestamp", "date", "date")

  // Numeric columns whose name has no keyword profile as semantic `date`:
  // the profiler keeps the reference's pandas quirk (to_datetime parses any
  // number). Date comes before every numeric column in `incidents`, so the
  // rule generator's first-`date`-column lookup lands on it.
  val Incidents: Template = Template("incidents",
    IndexedSeq(str("Service", "service"), str("City", "city"), tsc("Date"),
      num("Incident_id"), num("Severity"), num("Duration")),
    (r, n) => (0 until n).map(i => IndexedSeq[Any](pick(r, Services), pick(r, Cities), ts(r),
      i + 1, 1 + r.nextInt(5), 5 + r.nextInt(240))))

  val Lineitem: Template = Template("lineitem",
    IndexedSeq(num("l_orderkey"), num("l_partkey"), num("l_suppkey"), num("l_linenumber"),
      num("l_quantity"), dbl("l_extendedprice"), dbl("l_discount"), dbl("l_tax"),
      str("l_returnflag"), str("l_linestatus"), tsc("l_shipdate")),
    (r, n) => {
      val out = IndexedSeq.newBuilder[IndexedSeq[Any]]
      var order = 0
      var made = 0
      while (made < n) {
        order += 1
        val lines = math.min(1 + r.nextInt(7), n - made)
        (1 to lines).foreach { ln =>
          val qty = 1 + r.nextInt(50)
          out += IndexedSeq[Any](order, 1 + r.nextInt(20000), 1 + r.nextInt(1000), ln, qty,
            Money(qty * (90000L + r.nextInt(1000000))), money(r, 0, 11), money(r, 0, 9),
            pick(r, IndexedSeq("A", "N", "R")), pick(r, IndexedSeq("F", "O")), ts(r))
        }
        made += lines
      }
      out.result()
    })

  val Segments: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Customer: Template = Template("customer",
    IndexedSeq(num("c_custkey"), str("c_name", "service"), num("c_nationkey"), dbl("c_acctbal"),
      str("c_mktsegment")),
    (r, n) => (0 until n).map(i => IndexedSeq[Any](i + 1, f"Customer#${i + 1}%09d", r.nextInt(25),
      money(r, -99999, 999999), pick(r, Segments))))

  // ---- qa_warm ----------------------------------------------------------

  /** Row counts of the tables every qa_warm session uploads once. */
  val QaRows: Map[String, Int] = Map("incidents" -> 20000, "lineitem" -> 30000, "customer" -> 5000)

  def qaTables(seed: Long): Map[String, Table] = {
    val r = new Random(seed * 31 + 1)
    Seq(Incidents, Lineitem, Customer).map(t => t.name -> t.table(r, QaRows(t.name))).toMap
  }

  /** Question kinds of the interactive mix. `KindBlock` fixes their share
    * of the new questions: every block of ten holds each kind that often. */
  sealed trait Kind
  case object Which extends Kind          // rule NL "which X" group-by
  case object CityLastMonth extends Kind  // rule NL city + "last month" filter
  case object ShowAll extends Kind        // rule NL "show all", SELECT * + LIMIT 200
  case object TopK extends Kind           // arbitrary SQL top-k with ORDER BY ... LIMIT
  case object Collapse extends Kind       // arbitrary SQL projection with duplicate rows
  case object Unsafe extends Kind         // statement the validator must reject
  val KindBlock: IndexedSeq[Kind] = IndexedSeq(Which, Which, Which, CityLastMonth, CityLastMonth,
    ShowAll, TopK, TopK, Collapse, Unsafe)

  /** A question: the table it targets, and either NL text (rule path,
    * `Engine.answer`) or SQL (arbitrary-SQL path, `Engine.executeSql`). */
  final case class Question(kind: Kind, table: String, text: String, isSql: Boolean)

  /** The `nth` new question of `kind` in a session. Templates take turns in
    * a fixed order, so consecutive questions of a kind go to different
    * tables and every seed asks the same templates at the same positions;
    * `r` draws the literals (city, service, k, filter values). */
  private def distinctQuestion(r: Random, kind: Kind, nth: Int): Question = {
    def turn[T](xs: IndexedSeq[T]): T = xs(nth % xs.size)
    kind match {
      case Which =>
        turn(IndexedSeq(
          Question(Which, "incidents", s"which Service had the most incidents in ${pick(r, graft.RuleSqlGenerator.Cities.toIndexedSeq)}", false),
          Question(Which, "lineitem", "which l_linenumber appears most", false),
          Question(Which, "customer", "which c_nationkey has the most customers", false),
          Question(Which, "incidents", "which City reported the most incidents", false),
          Question(Which, "lineitem", "which l_returnflag is most common", false),
          Question(Which, "customer", "which c_mktsegment has the most customers", false)))
      case CityLastMonth =>
        Question(CityLastMonth, "incidents",
          s"show ${pick(r, Services).toLowerCase} incidents in ${pick(r, graft.RuleSqlGenerator.Cities.toIndexedSeq)} last month", false)
      case ShowAll =>
        turn(IndexedSeq(Question(ShowAll, "incidents", "show all incidents", false),
          Question(ShowAll, "lineitem", "show all line items", false),
          Question(ShowAll, "customer", "show all customers", false)))
      case TopK =>
        val k = pick(r, IndexedSeq(5, 10, 20))
        turn(IndexedSeq(
          Question(TopK, "lineitem", "SELECT l_orderkey, SUM(l_quantity) AS qty FROM df GROUP BY l_orderkey " +
            s"ORDER BY qty DESC, l_orderkey LIMIT $k", true),
          Question(TopK, "customer", "SELECT c_custkey, c_name, c_acctbal FROM df " +
            s"WHERE c_nationkey = ${r.nextInt(25)} ORDER BY c_acctbal DESC, c_custkey LIMIT $k", true),
          Question(TopK, "lineitem", "SELECT l_orderkey, l_linenumber, l_extendedprice FROM df " +
            s"WHERE l_returnflag = '${pick(r, IndexedSeq("A", "N", "R"))}' " +
            s"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT $k", true),
          Question(TopK, "incidents", "SELECT City, COUNT(*) AS n, SUM(Duration) AS minutes FROM df " +
            s"WHERE Severity >= ${1 + r.nextInt(5)} GROUP BY City ORDER BY minutes DESC, City LIMIT $k", true)))
      case Collapse =>
        turn(IndexedSeq(
          Question(Collapse, "incidents", "SELECT City, Severity FROM df " +
            s"WHERE Duration < ${6 + r.nextInt(2)}", true),
          Question(Collapse, "lineitem", "SELECT l_returnflag, l_linestatus FROM df " +
            s"WHERE l_partkey <= ${pick(r, IndexedSeq(40, 60, 80, 100))}", true),
          Question(Collapse, "customer", "SELECT c_mktsegment, c_nationkey FROM df " +
            s"WHERE c_custkey <= ${pick(r, IndexedSeq(100, 130, 160, 190))}", true)))
      case Unsafe =>
        val t = turn(QaRows.keys.toIndexedSeq.sorted)
        pick(r, IndexedSeq(
          Question(Unsafe, t, "DROP TABLE df", true),
          Question(Unsafe, t, "SELECT * FROM df; DELETE FROM df", true),
          Question(Unsafe, t, "UPDATE df SET x = 1", true),
          Question(Unsafe, t, "SELECT * FROM df WHERE 1 = 1; SELECT 1", true),
          Question(Unsafe, t, "CREATE TABLE t AS SELECT * FROM df", true)))
    }
  }

  /** One session's question stream. Even positions ask a new question; odd
    * positions repeat one of the last four new questions, so exactly half
    * are repeats. The order of kinds (a fixed shuffle of `KindBlock` per
    * session) and of templates is the same for every seed, so every run's
    * time window meets the same mix; the seed draws each question's
    * literals and the tables' contents. */
  def sessionQuestions(seed: Long, session: Int, n: Int): IndexedSeq[Question] = {
    val order = new Random(session + 1)
    val kinds = Iterator.continually(order.shuffle(KindBlock)).flatten
    val r = new Random(seed * 1000003 + session * 7919 + 17)
    val seen = scala.collection.mutable.Map.empty[Kind, Int].withDefaultValue(0)
    val fresh = IndexedSeq.fill((n + 1) / 2) {
      val k = kinds.next()
      seen(k) += 1
      distinctQuestion(r, k, seen(k) - 1)
    }
    (0 until n).map(p => if (p % 2 == 0) fresh(p / 2) else fresh(p / 2 - p / 2 % 4))
  }

  // ---- curation_batch ---------------------------------------------------

  final case class Corpus(docs: IndexedSeq[(Long, String)], planted: IndexedSeq[(Long, Long)],
      vectors: IndexedSeq[Array[Float]], queries: IndexedSeq[Int])

  val BaseDocs = 1000
  val Vectors = 1000
  val TopKQueries = 16

  /** Word-salad base documents over a skewed vocabulary plus one planted
    * near-duplicate of each: its base with one word replaced per 40 words
    * (exact shingle Jaccard stays well above 0.7), so the planted pairs are
    * known ground truth. Variants get ids above every base id. */
  def corpus(seed: Long): Corpus = {
    val r = new Random(seed * 65537 + 5)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 4000)
        seen += (0 until 3 + r.nextInt(7)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      seen.toIndexedSeq
    }
    def word(): String = vocab((vocab.size * math.pow(r.nextDouble(), 1.6)).toInt)
    val base = (1 to BaseDocs).map(i => i.toLong -> Array.fill(60 + r.nextInt(80))(word()))
    val variants = base.map { case (id, words) =>
      val w = words.clone()
      (0 until 1 + w.length / 40).foreach(_ => w(r.nextInt(w.length)) = word())
      (id, BaseDocs + id, w)
    }
    val docs = base.map { case (id, w) => id -> w.mkString(" ") } ++
      variants.map { case (_, id, w) => id -> w.mkString(" ") }
    val vectors = IndexedSeq.fill(Vectors)(Array.fill(64)(r.nextGaussian().toFloat))
    val queries = r.shuffle((0 until Vectors).toIndexedSeq).take(TopKQueries)
    Corpus(docs, variants.map { case (b, v, _) => b -> v }, vectors, queries)
  }

  /** Exact Jaccard of the distinct word 3-gram sets — the dedup operator's
    * definition, computed on strings instead of hashes. */
  def shingles(text: String): Set[String] = text.split(" ").sliding(3).filter(_.length == 3)
    .map(_.mkString(" ")).toSet
  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size.toDouble
}
