package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions, classic}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions._

/** Session extension injecting this engine's native Catalyst expressions
  * ([[GraftExtensions.functions]]). It is optional: every operator reaches
  * its expressions through [[GraftExtensions.call]], which registers them
  * into the session on first use, so a session built without the
  * extension plans exactly the same expressions. Installing it
  * (`.config("spark.sql.extensions", "graft.GraftExtensions")`, as Verify,
  * Bench and the test session do) only registers them up front, which
  * also carries them into every `newSession()`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** The one registration table: every native expression of
    * [[graft.functions]] under its SQL name. Builders read the operator
    * constants (permutations, plane parameters, dims) when they run, not
    * when this table is built, so no operator object initializes here. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    unary("simhash_of_hashes", classOf[SimhashOfHashes])(
      SimhashOfHashes(_, graft.text.Dedup.simPerms)),
    unary("minhash_of_hashes", classOf[MinhashOfHashes])(
      MinhashOfHashes(_, graft.text.Dedup.perms)),
    unary("sign_buckets_of_quantized", classOf[SignBucketsOfQuantized])(
      SignBucketsOfQuantized(_, graft.ml.Similarity.planeParams,
        graft.ml.Similarity.NumTables, graft.ml.Similarity.PlanesPerTable)),
    binary("dot_of_quantized", classOf[DotOfQuantized])(DotOfQuantized(_, _)),
    binary("agree_count_of_hashes", classOf[AgreeCountOfHashes])(
      AgreeCountOfHashes(_, _)),
    unary("byte_stats_of_binary", classOf[ByteStatsOfBinary])(ByteStatsOfBinary(_)),
    unary("container_walks_of_binary", classOf[ContainerWalksOfBinary])(
      ContainerWalksOfBinary(_)),
    unary("tok_hashes_of_text", classOf[TokHashesOfText])(TokHashesOfText(_)),
    unary("tok_hashes_of_tokens", classOf[TokHashesOfTokens])(TokHashesOfTokens(_)),
    // default windows: 3 = the dedup family's shingle width, 8 = the
    // exact-substring span width and the boilerplate tile width
    windowed("shingles_of_hashes", classOf[ShinglesOfHashes], 3)(
      ShinglesOfHashes(_, _)),
    windowed("win_shingles_of_hashes", classOf[WinShinglesOfHashes], 8)(
      WinShinglesOfHashes(_, _)),
    windowed("blocks_of_hashes", classOf[BlocksOfHashes], 8)(BlocksOfHashes(_, _)),
    unary("luhn_valid", classOf[LuhnValidOfText])(LuhnValidOfText(_)),
    unary("fold_marks", classOf[FoldMarks])(FoldMarks(_)),
    unary("dim_shares_of_hashes", classOf[DimSharesOfHashes])(
      DimSharesOfHashes(_, graft.ml.DocVectors.Dim)))

  /** Registers every entry of [[functions]] that `session`'s own function
    * registry lacks. Idempotent and per session: a function registered
    * at run time is not inherited by `newSession()`, so the check reads
    * the registry of the session at hand, never a process-wide flag. */
  def ensure(session: SparkSession): Unit = {
    val registry =
      session.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    for ((id, info, build) <- functions if !registry.functionExists(id))
      registry.registerFunction(id, info, build)
  }

  /** `call_function(name, args*)` over `df`'s session, after [[ensure]]:
    * the one way an operator reaches a native expression. */
  def call(df: DataFrame, name: String, args: Column*): Column = {
    ensure(df.sparkSession)
    org.apache.spark.sql.functions.call_function(name, args: _*)
  }

  private def entry(name: String, cls: Class[_])(build: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private def unary(name: String, cls: Class[_])(build: Expression => Expression) =
    entry(name, cls) { children =>
      require(children.size == 1,
        s"$name takes exactly 1 argument, got ${children.size}")
      build(children.head)
    }

  private def binary(name: String, cls: Class[_])(
      build: (Expression, Expression) => Expression) =
    entry(name, cls) { children =>
      require(children.size == 2,
        s"$name takes exactly 2 arguments, got ${children.size}")
      build(children.head, children(1))
    }

  /** A function over a hash array plus an optional window width, which
    * must be an integer literal: codegen unrolls per-window constants,
    * so it cannot be a runtime column. */
  private def windowed(name: String, cls: Class[_], default: Int)(
      build: (Expression, Int) => Expression) =
    entry(name, cls) { children =>
      require(children.size == 1 || children.size == 2,
        s"$name takes 1 or 2 arguments, got ${children.size}")
      val window = if (children.size == 1) default else children(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"$name window must be an integer literal, got $other")
      }
      build(children.head, window)
    }
}
