package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL registration for the graft codegen kernels, so SQL-first users
  * can call them directly:
  *
  * {{{
  *   spark.sql("SELECT l2sq(embedding, query) AS dist FROM corpus")
  *   spark.sql("SELECT simhash64(split(text, ' ')) FROM docs")
  *   spark.sql("SELECT minhash(word_shingles(split(text, ' '), 3), 24) FROM docs")
  * }}}
  *
  * Two entry points:
  *  - [[GraftFunctions.register]] injects into an existing session
  *  - [[GraftExtensions]] for `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  */
object GraftFunctions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument must be an integer literal, got $other")
  }

  /** A FOLDABLE array-of-double argument, evaluated at plan time (the
    * same constant-at-parse contract as [[intArg]] — these feed tables
    * that are baked into the codegen kernel per query). */
  private def doubleArrayArg(e: Expression, fn: String): Array[Double] = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    require(e.foldable, s"$fn: array argument must be a literal/foldable expression, got $e")
    val arr = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    require(arr != null, s"$fn: array argument must not be null")
    e.dataType match {
      case ArrayType(DoubleType, _) => arr.toDoubleArray()
      case ArrayType(FloatType, _) => arr.toFloatArray().map(_.toDouble)
      case other => throw new IllegalArgumentException(
        s"$fn: array argument must be array<double> or array<float>, got $other")
    }
  }

  /** (name, builder, usage) for every graft SQL function. */
  private val functions: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("l2sq",
      { case Seq(a, b) => L2SqExpr(a, b) },
      "l2sq(arrA, arrB) - squared L2 distance of two float arrays (float64)"),
    ("vec_dot",
      { case Seq(a, b) => DotExpr(a, b) },
      "vec_dot(arrA, arrB) - dot product of two float arrays (float64)"),
    ("simhash64",
      { case Seq(a) => SimHashExpr(a) },
      "simhash64(tokens) - 64-bit SimHash of a string array"),
    ("minhash",
      { case Seq(a, k) => MinHashExpr(a, intArg(k, "minhash")) },
      "minhash(shingles, k) - k-element MinHash signature of a string array"),
    ("word_shingles",
      { case Seq(a, n) => ShinglesExpr(a, intArg(n, "word_shingles")) },
      "word_shingles(tokens, n) - distinct word n-grams of a string array"),
    ("srp_sign",
      { case Seq(a, bits) => SrpSignExpr(a, intArg(bits, "srp_sign"), 42L) },
      "srp_sign(embedding, bits) - SRP bit signature (bits/64 longs) of a float array"),
    ("winnow_fingerprints",
      { case Seq(a, k, w) => WinnowExpr(a, intArg(k, "winnow_fingerprints"), intArg(w, "winnow_fingerprints")) },
      "winnow_fingerprints(text, k, w) - winnowing (MOSS) document fingerprints: k-gram size k, window w"),
    ("lang_id",
      { case Seq(a) => LangIdExpr(a) },
      "lang_id(normText) - fused one-pass language-ID of NORMALIZED text (en/es/de/fr/zh/und)"),
    ("quality_score",
      { case Seq(a) => QualityScoreExpr(a) },
      "quality_score(normText) - fused one-pass [0,1] quality score of NORMALIZED text"),
    ("repetition_stats",
      { case Seq(a) => RepetitionExpr(a) },
      "repetition_stats(tokens) - struct(dup_2gram_frac, top_2gram_frac, dup_3gram_frac) of a token array"),
    // The SQL route to the persisted SQ8 code layout: lo/hi are the
    // artifact's per-dimension bounds, q the query vector — all three
    // must be literal arrays (the ADC table is built ONCE at plan time,
    // through the same graft.index.Sq.adcTableD core as the API path,
    // then scans as the PqAdcExpr codegen kernel at m=dim, k=256).
    ("sq8_adc",
      { case Seq(codes, lo, hi, q) =>
        val table = graft.index.Sq.adcTableD(
          doubleArrayArg(lo, "sq8_adc"),
          doubleArrayArg(hi, "sq8_adc"),
          doubleArrayArg(q, "sq8_adc"))
        PqAdcExpr(codes, table.toIndexedSeq, 256) },
      "sq8_adc(codes, loArr, hiArr, qArr) - SQ8 asymmetric L2 distance of a byte-codes " +
        "column to literal query qArr under literal per-dimension bounds [loArr, hiArr]"),
    // The SQL route to the persisted PQ code layout: cbFlat is the
    // codebook flattened subspace-major (Pq.flatCentroids), q the
    // query — both literal arrays of EXACT float-widened doubles (a
    // float's double widening round-trips losslessly through the SQL
    // literal, so narrowing back with .toFloat reproduces the training
    // floats bit-for-bit). The ADC table is built ONCE at plan time
    // through the same Pq.adcTableFlat float core as the API path,
    // then scans as the PqAdcExpr codegen kernel.
    ("pq_adc",
      { case Seq(codes, cbFlat, q, m) =>
        val mi = intArg(m, "pq_adc")
        val qArr = doubleArrayArg(q, "pq_adc").map(_.toFloat)
        val flat = doubleArrayArg(cbFlat, "pq_adc").map(_.toFloat)
        require(mi >= 1, s"pq_adc: m must be >= 1, got $mi")
        val dsub = qArr.length / mi
        require(dsub >= 1 && dsub * mi == qArr.length,
          s"pq_adc: query dim ${qArr.length} is not a multiple of m=$mi")
        val k = flat.length / (mi * dsub)
        val table = graft.index.Pq.adcTableFlat(flat, mi, k, qArr)
        PqAdcExpr(codes, table.toIndexedSeq, k) },
      "pq_adc(codes, cbFlatArr, qArr, m) - PQ asymmetric L2 distance of an m-byte codes " +
        "column to literal query qArr under the literal flattened codebook cbFlatArr"))

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage,
      "", "", "", "", "", "", "built-in")

  /** Register every graft function into `spark`'s function registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder, usage) =>
      registry.registerFunction(FunctionIdentifier(name), info(name, usage), builder)
    }
  }

  private[graft] def inject(extensions: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, builder, usage) =>
      extensions.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    // opt-in via spark.graft.rewriteTopK=true (see TopKWindowRewrite)
    extensions.injectOptimizerRule(_ => TopKWindowRewrite)
  }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctions.inject(extensions)
}
