package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions._

/** SparkSessionExtensions hook exposing graft's native expressions to
  * SQL users:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * spark.sql("SELECT rolling_hash(text), simhash60(hashes) FROM docs")
  * }}}
  *
  * Registered functions: `rolling_hash(str)`, `g_format(double)`,
  * `int_vec_dot(arr, arr)`, `simhash60(arr)`, `fuzzy_date(str)`,
  * `fuzzy_datetime(str)`, `token_hash60(str)`,
  * `shingle_hash60(str, w)`, `minhash_sig(arr, perms)`,
  * `quantize_vec(arr)`, `capped_pairs(arr, cap)`,
  * `stopword_hits(str, array(words...))`, `nfc_normalize(str)`,
  * `fts_match(str..., 'query')` (the full FTS5 MATCH grammar),
  * `fts_trigram_match(str..., 'query')` (the trigram/substring twin).
  *
  * Non-column parameters (shingle width, perm count, cap, word list)
  * must be foldable literals — they are baked into the expression at
  * plan time, exactly like the Column-API spellings.
  */
object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def wordsArg(e: Expression): Seq[String] = e.eval(null) match {
    case a: ArrayData =>
      (0 until a.numElements()).map(i => a.get(i, org.apache.spark.sql.types.StringType)
        .asInstanceOf[UTF8String].toString)
    case other => throw new IllegalArgumentException(
      s"word list must be an array literal, got $other")
  }

  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", "rolling_hash(str) - polynomial fingerprint mod 1e9+7",
      (args: Seq[Expression]) => RollingHash(args.head)),
    ("g_format", "g_format(x) - C-printf %g canonicalization",
      (args: Seq[Expression]) => GFormat(args.head)),
    ("int_vec_dot", "int_vec_dot(a, b) - exact integer dot product",
      (args: Seq[Expression]) => IntVecDot(args(0), args(1))),
    ("simhash60", "simhash60(hashes) - 60-bit simhash of a hash array",
      (args: Seq[Expression]) => SimHash60(args.head)),
    ("fuzzy_date", "fuzzy_date(str) - natural-language date -> ISO yyyy-MM-dd",
      (args: Seq[Expression]) => FuzzyDateParse(args.head, Nil, dateOnly = true)),
    ("fuzzy_datetime", "fuzzy_datetime(str) - natural-language datetime -> ISO",
      (args: Seq[Expression]) => FuzzyDateParse(args.head, Nil, dateOnly = false)),
    ("token_hash60", "token_hash60(str) - 60-bit md5 hash per token",
      (args: Seq[Expression]) => TokenHash60(args.head)),
    ("shingle_hash60", "shingle_hash60(str, w) - distinct hashes of w-shingles",
      (args: Seq[Expression]) => ShingleHash60(args(0), intArg(args(1), "shingle width"))),
    ("minhash_sig", "minhash_sig(hashes, perms) - affine-min minhash signature",
      (args: Seq[Expression]) => MinHashSig(args(0), intArg(args(1), "perm count"))),
    ("quantize_vec", "quantize_vec(emb) - round(x*1000) integer quantization",
      (args: Seq[Expression]) => QuantizeVec(args.head)),
    ("capped_pairs", "capped_pairs(sorted_ids, cap) - skew-capped bucket pair expansion",
      (args: Seq[Expression]) => CappedLongPairs(args(0), intArg(args(1), "bucket cap"))),
    ("stopword_hits", "stopword_hits(str, words) - tokens in the word list, with multiplicity",
      (args: Seq[Expression]) => StopwordHits(args(0), wordsArg(args(1)))),
    ("nfc_normalize", "nfc_normalize(str) - Unicode NFC composition",
      (args: Seq[Expression]) => NfcNormalize(args.head)),
    // variadic: fts_match(col1, ..., colN, 'query') — the full FTS5
    // MATCH grammar (boolean ops, phrases, prefixes, anchors, NEAR,
    // '+' chains) compiled at plan time into the same predicate tree
    // as Fts.matchQuery; the query must be a string literal. Column
    // filters need names, which SQL expressions don't carry — they
    // error loudly here (use Fts.matchQueryNamed from the Column API).
    ("fts_match", "fts_match(str..., 'query') - FTS5 MATCH grammar predicate over the columns",
      (args: Seq[Expression]) => {
        require(args.length >= 2, "fts_match needs at least (column, 'query')")
        // Builder-time arguments are UNRESOLVED: eval() on anything but
        // a Literal throws an opaque UnsupportedOperationException, so
        // match the node shape instead of evaluating. Foldable non-
        // literals (concat('a','b')) are rejected too — the grammar is
        // compiled at plan time and needs the text here, before any
        // ConstantFolding pass runs.
        val q = args.last match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s: UTF8String, _)
              if s != null => s.toString
          case other => throw new IllegalArgumentException(
            s"FTS query must be a string literal, got $other")
        }
        val shim = org.apache.spark.sql.graftshim.GraftShim
        shim.expressionEager(graft.operators.Fts.matchQuery(args.init.map(shim.column), q))
      }),
    // the trigram-tokenizer twin: same grammar, substring leaves
    // (FtsTrigram.matchQuery — probed vs the sqlite3 binary)
    ("fts_trigram_match", "fts_trigram_match(str..., 'query') - FTS5 trigram MATCH (substring) predicate over the columns",
      (args: Seq[Expression]) => {
        require(args.length >= 2, "fts_trigram_match needs at least (column, 'query')")
        val q = args.last match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s: UTF8String, _)
              if s != null => s.toString
          case other => throw new IllegalArgumentException(
            s"FTS query must be a string literal, got $other")
        }
        val shim = org.apache.spark.sql.graftshim.GraftShim
        shim.expressionEager(
          graft.operators.FtsTrigram.matchQuery(args.init.map(shim.column), q))
      }))

  /** Register on an already-running session: temp functions plus the
    * plan guardrail (via `experimental.extraOptimizations`, the
    * live-session analogue of `injectOptimizerRule`).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    builders.foreach { case (name, _, b) =>
      org.apache.spark.sql.graftshim.GraftShim.registerFunction(spark, name, b)
    }
    val rule = graft.plans.PlanGuardRule(spark)
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.PlanGuardRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    org.apache.spark.sql.graftshim.GraftShim.addStrategy(
      spark, graft.plans.AsofJoinStrategy)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, usage, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), b))
    }
    // plan guardrails: scale-killer shapes warn (or throw under
    // spark.graft.guard=strict) at optimization time
    ext.injectOptimizerRule(graft.plans.PlanGuardRule)
    // the custom as-of join physical operator (AsOf.joinPriorMerge
    // also self-registers per session, so plain sessions work too)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
