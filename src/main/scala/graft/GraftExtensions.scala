package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.cal.{BusdayCount, BusdayCountExpr}
import graft.dedup.{GramHashesExpr, IntersectCountSortedExpr, JaccardSortedExpr, LshBandKeysExpr, MinHash, MinHashSigExpr, SimHashExpr}
import graft.functions.{CharFoldHashExpr, DocFingerprintExpr, DotProductExpr, FixedLog2Expr, TextStatsExpr}
import graft.text.TextAnalysis

/** graft's Catalyst surface, installed by [[GraftSession.build]] and by
  * nothing else: the custom expressions as SQL functions, so
  * `SELECT busday_count(d1, d2)`, `doc_fingerprint(text)`, … work from
  * plain SQL with the same codegen'd expressions the DataFrame API uses;
  * `PresentSortRule`; and the as-of join's planner strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // once, after the operator-optimization fixed point
    e.injectPreCBORule(_ => graft.plans.PresentSortRule)
    // planner surface: whole-operator plan nodes (as-of join)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("busday_count",
      info("busday_count", "busday_count(start_date, end_date) - business days in [start, end) over the engine holiday calendar"),
      (es: Seq[Expression]) =>
        BusdayCountExpr(es(0), es(1), BusdayCount.defaultHolidays)),
    ("char_fold_hash",
      info("char_fold_hash", "char_fold_hash(str) - portable polynomial hash"),
      (es: Seq[Expression]) => CharFoldHashExpr(es.head)),
    ("doc_fingerprint",
      info("doc_fingerprint", "doc_fingerprint(text) - min rolling hash over word 3-shingles"),
      (es: Seq[Expression]) => DocFingerprintExpr(es.head)),
    ("simhash32",
      info("simhash32", "simhash32(text) - 32-bit simhash over token hashes"),
      (es: Seq[Expression]) => SimHashExpr(es.head)),
    ("minhash_signature",
      info("minhash_signature", "minhash_signature(text[, k]) - k-component minhash signature"),
      (es: Seq[Expression]) => MinHashSigExpr(es.head,
        es.lift(1).map(foldIntArg).getOrElse(MinHash.DefaultK))),
    ("lsh_band_keys",
      info("lsh_band_keys", "lsh_band_keys(text[, k[, r]]) - LSH band bucket keys"),
      (es: Seq[Expression]) => LshBandKeysExpr(es.head,
        es.lift(1).map(foldIntArg).getOrElse(MinHash.DefaultK),
        es.lift(2).map(foldIntArg).getOrElse(MinHash.DefaultBandSize))),
    ("vec_dot",
      info("vec_dot", "vec_dot(a, b) - float-vector dot product in double"),
      (es: Seq[Expression]) => DotProductExpr(es(0), es(1))),
    ("gram_hashes",
      info("gram_hashes", "gram_hashes(text[, n]) - sorted distinct token n-gram hash set"),
      (es: Seq[Expression]) => GramHashesExpr(es.head,
        es.lift(1).map(foldIntArg).getOrElse(2))),
    ("jaccard_sorted",
      info("jaccard_sorted", "jaccard_sorted(a, b) - Jaccard of two sorted distinct long arrays"),
      (es: Seq[Expression]) => JaccardSortedExpr(es(0), es(1))),
    ("intersect_count_sorted",
      info("intersect_count_sorted", "intersect_count_sorted(a, b) - intersection size of two sorted distinct long arrays"),
      (es: Seq[Expression]) => IntersectCountSortedExpr(es(0), es(1))),
    ("text_stats",
      info("text_stats", "text_stats(text) - fused token statistics struct (stopword list built in)"),
      (es: Seq[Expression]) => TextStatsExpr(es.head,
        Seq(TextAnalysis.stopwords))),
    ("log2_fp",
      info("log2_fp", "log2_fp(n) - deterministic 20-fractional-bit fixed-point log2 of a positive BIGINT"),
      (es: Seq[Expression]) => FixedLog2Expr(es.head)),
    // HLL sketch family (graft.olap.Hll): native TypedImperativeAggregates
    // + scalar register readers. The analyzer wraps the returned
    // AggregateFunction into an AggregateExpression.
    ("hll_sketch",
      info("hll_sketch", "hll_sketch(spread_hash) - 512-register HyperLogLog sketch (BINARY)"),
      (es: Seq[Expression]) => graft.olap.HllSketchAgg(es.head)),
    ("hll_merge",
      info("hll_merge", "hll_merge(sketch) - merge HLL sketches by bytewise max"),
      (es: Seq[Expression]) => graft.olap.HllMergeAgg(es.head)),
    ("hll_estimate",
      info("hll_estimate", "hll_estimate(sketch) - raw HLL distinct estimate"),
      (es: Seq[Expression]) => graft.olap.HllEstimateExpr(es.head)),
    ("hll_zero_regs",
      info("hll_zero_regs", "hll_zero_regs(sketch) - count of empty registers"),
      (es: Seq[Expression]) => graft.olap.HllZeroRegsExpr(es.head)))

  private def foldIntArg(e: Expression): Int =
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"expected integer literal argument, got $other")
    }
}
