package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{BandSigsExpr, BpeUnitsExpr, CosineSimilarity, EmbedSimHash2Expr, EmbedSimHashExpr, HeavyHittersSketch, HllSketch, KmvSketch, MinHashSigExpr, NGramHashesExpr, NGramHashesPosExpr, ShingleSetExpr, SimHashExpr, StringHashExpr, TextCanonExpr, TokenHashesExpr, TopKByScore}

/** Registers graft's native expressions for SQL use:
  * `SELECT cosine_sim(a, b)` / `text_canon(s)` — codegen'd Catalyst
  * expressions, not UDFs, so they participate in whole-stage
  * codegen — the full TextHash kernel family (`token_hashes`,
  * `shingle_set`, `ngram_hashes[_pos]`, `minhash_sig`, `band_sigs`,
  * `simhash`, `embed_simhash`, `string_poly_hash`, `bpe_units`), and
  * the bounded
  * sketch aggregates `top_k_by_score(score, id, tag, k)`,
  * `heavy_hitters(item, capacity)`, `kmv_sketch(hash, k)` and
  * `hll_sketch(hash, p)` (the
  * size argument must be an integer literal in each; it sizes the
  * per-partition state at plan time — and `ngram_hashes[_pos]`'s `n`
  * likewise).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: size must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // The one registration path: every call is checked for its arity
    // before its builder runs, so a short or long call fails naming
    // the function instead of indexing past its argument list.
    def fn(name: String, cls: Class[_], arity: Int)(
        build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (exprs: Seq[Expression]) => {
          if (exprs.length != arity) throw new IllegalArgumentException(
            s"$name expects $arity argument(s), got ${exprs.length}")
          build(exprs)
        }))
    def unary(name: String, cls: Class[_],
        build: Expression => Expression): Unit =
      fn(name, cls, 1)(es => build(es.head))
    // expression + integer literal (a state size or an n-gram width)
    def sized(name: String, cls: Class[_],
        build: (Expression, Int) => Expression): Unit =
      fn(name, cls, 2)(es => build(es.head, intLit(es(1), name)))
    fn("cosine_sim", classOf[CosineSimilarity], 2)(
      es => CosineSimilarity(es.head, es(1)))
    unary("text_canon", classOf[TextCanonExpr], TextCanonExpr)
    sized("heavy_hitters", classOf[HeavyHittersSketch],
      HeavyHittersSketch(_, _))
    sized("kmv_sketch", classOf[KmvSketch], KmvSketch(_, _))
    sized("hll_sketch", classOf[HllSketch], HllSketch(_, _))
    // The TextHash kernel family: unary array/string transforms.
    unary("token_hashes", classOf[TokenHashesExpr], TokenHashesExpr)
    unary("shingle_set", classOf[ShingleSetExpr], ShingleSetExpr)
    unary("minhash_sig", classOf[MinHashSigExpr], MinHashSigExpr)
    unary("band_sigs", classOf[BandSigsExpr], BandSigsExpr)
    unary("simhash", classOf[SimHashExpr], SimHashExpr)
    unary("embed_simhash", classOf[EmbedSimHashExpr], EmbedSimHashExpr)
    unary("embed_simhash2", classOf[EmbedSimHash2Expr], EmbedSimHash2Expr)
    unary("string_poly_hash", classOf[StringHashExpr], StringHashExpr)
    unary("bpe_units", classOf[BpeUnitsExpr], BpeUnitsExpr)
    sized("ngram_hashes", classOf[NGramHashesExpr], NGramHashesExpr)
    sized("ngram_hashes_pos", classOf[NGramHashesPosExpr], NGramHashesPosExpr)
    fn("top_k_by_score", classOf[TopKByScore], 4)(es =>
      TopKByScore(es(0), es(1), es(2), intLit(es(3), "top_k_by_score")))
  }
}
