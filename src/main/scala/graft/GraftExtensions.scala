package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, DamerauLevenshtein, HyperplaneBandKeys, Hyperplanes, MinHashSignature, ShingleHashes, SimHashSignature}

/**
 * Session-extension wiring: registers the engine's custom Catalyst
 * expressions as SQL functions, so `spark.sql` users get them too:
 *
 *   SparkSession.builder().withExtensions(new GraftExtensions)   // at build
 *   GraftExtensions.register(spark)                              // at runtime
 *
 * `cosine_similarity(a, b)`      — fused codegen'd cosine over array<float>
 * `minhash_signature(h, n, sa, sb)` — aggregate MinHash signature
 * `simhash_signature(h)`         — aggregate 64-bit SimHash fingerprint
 * `shingle_hashes(text, n)`      — map-side word n-gram hash array
 * `hyperplane_band_keys(v, b, r)` — banded cosine-LSH keys (default planes)
 * `damerau_levenshtein(a, b)`    — unrestricted DL edit distance (int)
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftExtensions {
  private def longArg(e: Expression): Long =
    e.eval(null) match {
      case l: Long => l
      case i: Int => i.toLong
      case other => throw new IllegalArgumentException(s"literal long expected, got $other")
    }

  private[graft] val definitions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => new CosineSimilarity(exprs(0), exprs(1))),
    ("minhash_signature",
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (exprs: Seq[Expression]) => new MinHashSignature(
        exprs(0),
        longArg(exprs(1)).toInt,
        longArg(exprs(2)),
        longArg(exprs(3)))),
    ("simhash_signature",
      new ExpressionInfo(classOf[SimHashSignature].getName, "simhash_signature"),
      (exprs: Seq[Expression]) => new SimHashSignature(exprs(0)).toAggregateExpression()),
    ("shingle_hashes",
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (exprs: Seq[Expression]) => new ShingleHashes(exprs(0), longArg(exprs(1)).toInt)),
    ("damerau_levenshtein",
      new ExpressionInfo(classOf[DamerauLevenshtein].getName, "damerau_levenshtein"),
      (exprs: Seq[Expression]) => new DamerauLevenshtein(exprs(0), exprs(1))),
    ("hyperplane_band_keys",
      new ExpressionInfo(classOf[HyperplaneBandKeys].getName, "hyperplane_band_keys"),
      (exprs: Seq[Expression]) => {
        val bands = longArg(exprs(1)).toInt
        val rows = longArg(exprs(2)).toInt
        new HyperplaneBandKeys(exprs(0), Hyperplanes.masks(bands * rows).toSeq, rows)
      }),
    // Spark ships BloomFilterAggregate / BloomFilterMightContain for its
    // runtime row-level filtering but leaves them out of the SQL registry
    // (the optimizer injects them itself, above size thresholds a 0.1-SF
    // table never meets). Exposing them lets a query state the build/probe
    // sides of a bloom-pruned join explicitly — see operators/BloomJoin.
    ("bloom_filter_build",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_build"),
      (exprs: Seq[Expression]) => (exprs match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, n, b) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
        case other => throw new IllegalArgumentException(
          s"bloom_filter_build(hash[, estNumItems, numBits]): got ${other.size} args")
      }).toAggregateExpression()),
    ("bloom_might_contain",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))))

  /** Runtime registration of the functions on an existing session, which
    * unlike `withExtensions` can be attached to a live session. */
  def register(spark: SparkSession): Unit = {
    definitions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
