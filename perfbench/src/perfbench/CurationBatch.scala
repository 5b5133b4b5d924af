package perfbench

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** curation_batch: one client runs dedup → clustering → tf-idf → batch
  * retrieval passes over a seeded corpus with planted near-duplicates. The
  * Spark cache is cleared between passes, as the engine's bench main clears
  * it between its passes, because `minhashLsh` leaves its intermediates
  * cached. */
final class CurationBatch(spark: SparkSession, seed: Long, work: Path, tracer: Tracer) extends Workload {
  val Threshold = 0.7
  val K = 10
  val CheckedQueries = 4
  val WarmUpPasses = 2

  val clients = 1
  val sessions: Seq[SparkSession] = Seq(spark)
  private var corpus: Gen.Corpus = _
  private var docs: DataFrame = _
  private var embeddings: DataFrame = _
  private var queries: DataFrame = _
  private var shingles: Map[Long, Set[String]] = Map.empty
  private var planted: Seq[(Long, Long)] = Nil
  private var expectedTopK: Map[Long, Seq[(Long, Double)]] = Map.empty
  private var verifiedPairs = 0L

  def setup(rep: Int): Unit = {
    val dir = work.resolve(s"curation-$rep")
    corpus = Gen.corpus(seed)
    spark.createDataFrame(
      java.util.Arrays.asList(corpus.docs.map { case (id, text) =>
        Row(id, text, Seq("en", "es", "de", "zh")((id % 4).toInt), s"src${id % 7}", text.length.toLong)
      }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))))
      .write.parquet(dir.resolve("documents.parquet").toString)
    spark.createDataFrame(
      java.util.Arrays.asList(corpus.vectors.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v.toSeq, i % 10)
      }: _*),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    docs = Tables(spark, dir.toString, "documents")
    embeddings = Tables(spark, dir.toString, "embeddings")
    val qids = corpus.queries.map(_.toLong)
    queries = embeddings.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))

    // Expected answers. Near-duplicate ground truth from exact string
    // shingle sets; top-k from the brute-force single-query reference
    // operator, one query at a time, self-match removed.
    shingles = corpus.docs.map { case (id, t) => id -> Gen.shingles(t) }.toMap
    planted = corpus.planted.filter { case (a, b) => Gen.jaccard(shingles(a), shingles(b)) >= Threshold }
    if (planted.size < corpus.planted.size / 2) sys.error(s"only ${planted.size} planted pairs reach $Threshold")
    expectedTopK = qids.take(CheckedQueries).map { q =>
      val one = embeddings.where(col("vec_id") === q).select(col("embedding").as("qe"))
      q -> Similarity.bruteForceTopK(embeddings, one, K + 1).collect().toSeq
        .map(r => r.getLong(0) -> r.getDouble(1)).filter(_._1 != q).take(K)
    }.toMap
  }

  /** Two passes: the first compiles, the second still runs well above the
    * steady pass time on a cold JVM. */
  def warmUp(): Unit = (1 to WarmUpPasses).foreach { _ =>
    val warm = pass(0L)
    if (!warm.ok) sys.error(s"warm-up pass failed: ${warm.error}")
  }

  def op(client: Int, opId: Long): Outcome = pass(opId)

  private def pass(opId: Long): Outcome = {
    // What the previous pass left cached goes first, so every pass does the
    // whole work, and what the last pass leaves stays visible afterwards.
    spark.catalog.clearCache()
    graft.queries.Extensions.clearStagingMemo()
    val t0 = System.nanoTime()
    val (pairs, labels, terms, topk) = tracer.op("curation.pass", 0, opId) {
      val (pairsDf, pairs) = tracer.span("dedup.minhash_lsh") {
        val df = Dedup.minhashLsh(docs, "doc_id", "text", threshold = Threshold)
        (df, df.collect())
      }
      val labels = tracer.span("dedup.connected_components")(Dedup.connectedComponents(pairsDf).collect())
      val terms = tracer.span("text_analysis.tfidf")(TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 3).count())
      val topk = tracer.span("similarity.batch_topk")(Similarity.batchTopK(embeddings, queries, K).collect())
      (pairs, labels, terms, topk)
    }
    val ns = System.nanoTime() - t0
    verifiedPairs = pairs.length

    val found = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val label = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bad = found.collectFirst { case ((a, b), j) if a >= b || {
        val e = Gen.jaccard(shingles(a), shingles(b)); e < Threshold || math.abs(e - j) > 1e-9 } =>
      s"pair ($a,$b) reported jaccard $j, exact ${Gen.jaccard(shingles(a), shingles(b))}"
    }
    val missed = planted.filterNot(found.contains)
    val split = planted.filter { case (a, b) => label.get(a).isEmpty || label.get(a) != label.get(b) }
    val gotTopK = topk.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rn")).map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toSeq
    }
    val wrongTopK = expectedTopK.collectFirst { case (q, e) if gotTopK.get(q) != Some(e) => q }
    val error =
      if (bad.nonEmpty) bad.get
      else if (missed.nonEmpty) s"${missed.size} planted pairs missed, e.g. ${missed.head}"
      else if (split.nonEmpty) s"${split.size} planted pairs in different components, e.g. ${split.head}"
      else if (terms != 3L * corpus.docs.size) s"$terms tf-idf rows != 3 x ${corpus.docs.size}"
      else if (wrongTopK.nonEmpty) s"batchTopK disagrees with bruteForceTopK for query ${wrongTopK.get}"
      else ""
    Outcome(ns, ok = error.isEmpty, error = error)
  }

  def layerMetrics(d: LayerData, setup: LayerData): Seq[Metric] = {
    val n = d.ops.size.toDouble
    val nDocs = corpus.docs.size.toDouble
    def p50(name: String) = Stats.median(d.spans.filter(_.name == name).map(_.ms))
    Seq(
      Metric("dedup.minhash_lsh_ms", p50("dedup.minhash_lsh"), "ms"),
      Metric("dedup.connected_components_ms", p50("dedup.connected_components"), "ms"),
      Metric("text_analysis.tfidf_ms", p50("text_analysis.tfidf"), "ms"),
      Metric("similarity.batch_topk_ms", p50("similarity.batch_topk"), "ms"),
      Metric("spark.gc_ms_per_pass", d.counts.gcMs / n, "ms"),
      Metric("spark.shuffle_bytes_per_doc", d.counts.shuffleBytes / n / nDocs, "B"),
      Metric("spark.task_ms_per_doc", d.counts.taskMs / n / nDocs, "ms"),
      Metric("curation.docs_per_s", n * nDocs / d.wallS, "1/s"))
  }

  /** LSH waste, from the operator's public stage functions with
    * `minhashLsh`'s defaults (3-word shingles, 48 bands of 4 rows): the
    * candidate pairs banding proposes and the share verification keeps. */
  override def finishTraced(): Seq[Metric] = {
    val sh = Dedup.shingleHashRows(docs, "doc_id", "text", 3, distinct = false)
    val candidates = Dedup.lshCandidatePairs(
      Dedup.bandKeysFromSignatures(Dedup.minhashSignatures(sh, 48 * 4), 48, 4))
    val nc = candidates.count()
    val nv = Dedup.verifiedJaccardPairs(sh, candidates, Threshold).count()
    if (nv != verifiedPairs) sys.error(s"stage functions verify $nv pairs, minhashLsh $verifiedPairs")
    Seq(Metric("dedup.candidate_pairs", nc.toDouble, "count"),
      Metric("dedup.verified_pairs", nv.toDouble, "count"),
      Metric("dedup.candidate_precision", nv.toDouble / nc, "fraction"))
  }
}
