package graft

import graft.functions.{AnalyzerImpl, AnalyzerTokensExpr, CosineSimilarity, DotProduct, LshBucketExpr, MinHashSigExpr, ShinglesExpr, SimHash60Expr, TermCountsExpr, WinnowFingerprintsExpr}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/**
 * SQL surface of the engine's native Catalyst expressions. Register via
 * `spark.sql.extensions=graft.GraftExtensions` (or
 * `GraftSession.builder(cores).withExtensions(new GraftExtensions)`), after which
 * plain SQL can call the codegen'd kernels:
 *
 * {{{
 *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
 *   SELECT graft_minhash_sig(graft_shingles(text, 3), 64) FROM docs
 * }}}
 *
 * The reference exposes no user-defined functions (SURVEY §2.8); these are
 * the engine's own extension points, surfaced the idiomatic Spark way —
 * FunctionRegistry entries resolving to native expressions, never UDFs.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def fn(name: String, usage: String)(builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.GraftExtensions", null, name, usage, "", "", "",
        "", "", "", "built-in"),
      builder)

  /** The registrable function set. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_cosine", "graft_cosine(a, b) - cosine similarity of two float/double arrays") {
      args => CosineSimilarity(args(0), args(1))
    },
    fn("graft_dot", "graft_dot(a, b) - dot product of two float/double arrays") {
      args => DotProduct(args(0), args(1))
    },
    fn("graft_shingles", "graft_shingles(text, w) - distinct lowercase w-token shingles") {
      args => ShinglesExpr(args(0), litInt(args(1), "shingle width"))
    },
    fn("graft_minhash_sig", "graft_minhash_sig(shingles, k) - k-lane minhash signature") {
      args => MinHashSigExpr(args(0), litInt(args(1), "signature lanes"))
    },
    fn("graft_simhash", "graft_simhash(text) - 60-bit simhash of the token stream") {
      args => SimHash60Expr(args(0))
    },
    fn("graft_term_counts",
      "graft_term_counts(text) - per-document (token, occurrences) structs, first-seen order") {
      args => TermCountsExpr(args(0))
    },
    fn("graft_tokens", "graft_tokens(text, 'standard'|'simple'|'keyword'|'url') - analyzer token array") {
      args =>
        val mode = args(1) match {
          case Literal(s, _) if s != null => s.toString match {
            case "standard" => AnalyzerImpl.MODE_STANDARD
            case "simple" => AnalyzerImpl.MODE_SIMPLE
            case "keyword" => AnalyzerImpl.MODE_KEYWORD
            case "url" => AnalyzerImpl.MODE_URL
            case other => throw new IllegalArgumentException(s"unknown analyzer: $other")
          }
          case other => throw new IllegalArgumentException(
            s"analyzer name must be a string literal, got $other")
        }
        AnalyzerTokensExpr(args(0), mode)
    },
    fn("graft_lsh_bucket", "graft_lsh_bucket(vec, dim, nPlanes) - hyperplane sign-pattern bucket id") {
      args => LshBucketExpr(args(0), litInt(args(1), "dim"), litInt(args(2), "nPlanes"))
    },
    // corpus-shaping ops (composed from codegen'd built-in expressions —
    // expression builders, not UDFs, so they inline into the plan; built
    // as direct Catalyst nodes because a bridged Column tree stays
    // unresolved inside an already-resolving SQL plan)
    fn("graft_scrub_pii", "graft_scrub_pii(text) - redact emails/IPs/long digit runs") {
      args =>
        import org.apache.spark.sql.catalyst.expressions.RegExpReplace
        graft.operators.TextAnalysis.piiPatterns.foldLeft(args(0)) {
          case (e, (p, r)) => RegExpReplace(e, Literal(p), Literal(r))
        }
    },
    fn("graft_pii_count", "graft_pii_count(text) - count of PII spans a scrub would redact") {
      args =>
        import org.apache.spark.sql.catalyst.expressions.{Add, RegExpExtractAll, RegExpReplace, Size}
        // counts run against the progressively scrubbed text, mirroring
        // graft_scrub_pii's replacement order (no overlap double-count)
        val (counts, _) = graft.operators.TextAnalysis.piiPatterns
          .foldLeft((List.empty[Expression], args(0))) { case ((cs, t), (p, r)) =>
            ((Size(RegExpExtractAll(t, Literal(p), Literal(0))): Expression) :: cs,
              RegExpReplace(t, Literal(p), Literal(r)))
          }
        counts.reduce(Add(_, _))
    },
    fn("graft_winnow_fingerprints",
      "graft_winnow_fingerprints(text, k, w) - distinct winnowed k-char-gram hashes (window w) of the canonical text") {
      args =>
        import org.apache.spark.sql.catalyst.expressions.{Lower, RegExpReplace, StringTrim}
        // same canonical form as TextAnalysis.winnowFingerprints: lower,
        // collapse non-alphanumerics, trim — then the single-pass kernel
        val canon = StringTrim(
          RegExpReplace(Lower(args(0)), Literal("[^a-z0-9]+"), Literal(" ")))
        WinnowFingerprintsExpr(canon,
          litInt(args(1), "gram size k"), litInt(args(2), "window w"))
    },
    fn("graft_sample_hash",
      "graft_sample_hash(id, pct[, salt]) - deterministic md5 sample membership (hash mod 100 < pct)") {
      args =>
        import org.apache.spark.sql.catalyst.expressions.{Cast, Concat, Conv, LessThan, Md5, Remainder, Substring}
        import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
        val salt = args.lift(2).map {
          case Literal(s, _) if s != null => s.toString
          case other => throw new IllegalArgumentException(
            s"salt must be a string literal, got $other")
        }.getOrElse("")
        val keyed = Concat(Seq(Cast(args(0), StringType), Literal(salt)))
        val h = Cast(Conv(Substring(Md5(Cast(keyed, BinaryType)), Literal(1), Literal(15)),
          Literal(16), Literal(10)), LongType)
        // h is 60 bits of md5 — non-negative, so % == pmod
        LessThan(Remainder(h, Literal(100L)), Literal(litInt(args(1), "pct").toLong))
    })

  /** Register into an ALREADY-RUNNING session (notebooks, tests); builder
    * wiring uses the class form above. */
  def register(spark: SparkSession): Unit = all.foreach { case (id, info, b) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, b)
  }
}
