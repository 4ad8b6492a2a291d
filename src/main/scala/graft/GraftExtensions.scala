package graft

import graft.functions.{DotProduct, HashedShingles, HyperplaneBucket, MinHashSignature, SimHash64, TokenSegments}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extension registering graft's native expressions as SQL
  * functions, so `sql://` pipeline transforms can call them:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT graft_dot(a.embedding, b.embedding) FROM ...
  *   SELECT graft_minhash_sig(hashes, 48), graft_simhash(tokens),
  *          graft_hyperplane_bucket(vec, 12, 0) FROM ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // point-in-interval joins become bucketized equi-joins when
    // spark.graft.rangeJoin.bucketWidth is set (see RangeJoinBucketing)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBucketing)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot(a, b) takes exactly 2 array<float|double> arguments")
        DotProduct(children.head, children(1))
      }
    ),
    (
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_minhash_sig(hashes, k) takes an array<bigint> and an int literal")
        MinHashSignature(children.head, intArg(children(1), "k"))
      }
    ),
    (
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_simhash(tokens) takes one array<string> argument")
        SimHash64(children.head)
      }
    ),
    (
      FunctionIdentifier("graft_hashed_shingles"),
      new ExpressionInfo(classOf[HashedShingles].getName, "graft_hashed_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_hashed_shingles(tokens, n) takes an array<string> and an int literal")
        HashedShingles(children.head, intArg(children(1), "n"))
      }
    ),
    (
      FunctionIdentifier("graft_token_segments"),
      new ExpressionInfo(classOf[TokenSegments].getName, "graft_token_segments"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_token_segments(tokens, w) takes an array<string> and an int literal")
        TokenSegments(children.head, intArg(children(1), "w"))
      }
    ),
    (
      FunctionIdentifier("graft_hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "graft_hyperplane_bucket"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_hyperplane_bucket(vec, nBits, seed) takes an array<float|double> and two int literals")
        HyperplaneBucket(children.head, intArg(children(1), "nBits"), intArg(children(2), "seed"))
      }
    )
  )
}
