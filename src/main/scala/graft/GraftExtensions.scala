package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import graft.functions.{DotProduct, HashedShingles, MinHashSig, RollingMinHash, SimHash64, SimHashMd5, TokenBucketCounts}

/** Registers the engine's custom expressions as SQL functions, both via
  * the SparkSessionExtensions injection point
  * (`spark.sql.extensions=graft.GraftExtensions`) and directly onto an
  * existing session — so `spark.sql("SELECT dot_product(a, b) ...")`
  * works alongside the Column API. The injection point also makes two
  * installs into the SparkContext's Hadoop configuration: the fork-free
  * local filesystem ([[graft.fs.NioLocal]]), before the session creates
  * its first `file:` filesystem, and a provenance map that keeps nothing
  * ([[graft.fs.NoProvenance]]), so every serialized copy of the conf is
  * cheap to write and read.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          builder.getClass.getCanonicalName, name),
        builder))
    }
    // The session builder has started (or found) the context by now.
    val conf = SparkContext.getOrCreate().hadoopConfiguration
    graft.fs.NioLocal.install(conf)
    graft.fs.NoProvenance.install(conf)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> (args => DotProduct(args(0), args(1))),
    "rolling_min_hash" -> (args =>
      RollingMinHash(args(0), intArg(args(1), "rolling_min_hash window"))),
    "minhash_sig" -> (args =>
      MinHashSig(args(0), intArg(args(1), "minhash_sig k"))),
    "simhash64" -> (args => SimHash64(args(0))),
    "simhash_md5" -> (args => SimHashMd5(args(0))),
    "hashed_shingles" -> (args =>
      HashedShingles(args(0), intArg(args(1), "hashed_shingles k"))),
    "token_bucket_counts" -> (args =>
      TokenBucketCounts(args(0), intArg(args(1), "token_bucket_counts dim"))))

  /** Registers the same functions on an already-built session. */
  def registerFunctions(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
