package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.ext.{HashExprs, MinHashSig, SimHash64, TextShingles, VectorExprs}

/** SQL surface for the native kernels — the `SparkSessionExtensions`
  * integration point, so a pure-SQL user gets the same codegen'd
  * expressions the DataFrame operators run on:
  *
  *   spark.sql.extensions=graft.GraftExtensions   (at session build), or
  *   Graft.registerFunctions(spark)               (on a live session).
  *
  * Functions: `graft_mix64(bigint)` (splitmix64, the determinism
  * primitive behind sampling/splits/negatives), `graft_dot(a, b)`
  * (ordered-fold double dot product), `graft_simhash64(text)`,
  * `graft_word_shingle_hashes(text, n)` (distinct word n-gram hashes; n
  * must be a literal), `graft_minhash(shingle_hashes, k)` (k-permutation
  * signature over a BIGINT-array of shingle hashes; k must be a literal).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // token-count idiom -> native one-pass kernel (bit-identical; see
    // RewriteTokenCount)
    ext.injectOptimizerRule(_ => RewriteTokenCount)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.GraftExtensions", null, name, usage, "", "",
      "", "", "", "", "built-in")

  private def one(name: String)(f: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a) => f(a)
    case args => throw new IllegalArgumentException(
      s"$name expects 1 argument, got ${args.size}")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_mix64"),
      info("graft_mix64", "graft_mix64(id) - splitmix64 of a BIGINT"),
      one("graft_mix64")(HashExprs.Mix64(_))),
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64",
        "graft_simhash64(text) - 64-bit SimHash over whitespace tokens of a string"),
      one("graft_simhash64")(SimHash64.SimHashExpr(_))),
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - ordered-fold dot product of two double arrays"),
      {
        case Seq(a, b) => VectorExprs.DotProduct(a, b)
        case args => throw new IllegalArgumentException(
          s"graft_dot expects 2 arguments, got ${args.size}")
      }),
    (FunctionIdentifier("graft_word_shingle_hashes"),
      info("graft_word_shingle_hashes",
        "graft_word_shingle_hashes(text, n) - distinct word n-gram hashes of a string; n literal"),
      {
        case Seq(text, n) if n.foldable =>
          TextShingles.WordShingleHashes(text, n.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "graft_word_shingle_hashes expects (text, n) with literal n")
      }),
    (FunctionIdentifier("graft_minhash"),
      info("graft_minhash",
        "graft_minhash(shingle_hashes, k) - k-permutation MinHash over a BIGINT array; k literal"),
      {
        case Seq(hashes, k) if k.foldable =>
          MinHashSig.MinHashSignature(hashes,
            k.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "graft_minhash expects (shingle_hashes, k) with literal k")
      })
  )

  /** Register the same functions on an already-built session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (ident, inf, builder) =>
      registry.registerFunction(ident, inf, builder)
    }
  }
}
