package graft

import graft.functions.{CmsEstimate, CosineSim, LangId, MinHashSig, NGramJaccard, NormalizeText, RollingChunks, SimHash64, WordChunks, WordNGrams}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark session extensions for the graft engine: registers custom
  * Catalyst expressions so SQL and `expr(...)` can use them. This is the
  * only registration path; each builder lives in its function's
  * companion, next to the expression it builds.
  *
  * [[GraftSession.builder]] installs it with `withExtensions`; a session
  * built elsewhere enables it with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (one of
  * the two, not both: both inject every function twice).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction(
        (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {

  /** (SQL name, expression class, builder) of every injected function. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("simhash64", classOf[SimHash64], SimHash64.build),
    ("minhash_sig", classOf[MinHashSig], MinHashSig.build),
    ("ngram_jaccard", classOf[NGramJaccard], NGramJaccard.build),
    ("lang_id", classOf[LangId], LangId.build),
    ("cosine_sim", classOf[CosineSim], CosineSim.build),
    ("rolling_chunks", classOf[RollingChunks], RollingChunks.build),
    ("word_ngrams", classOf[WordNGrams], WordNGrams.build),
    ("cms_estimate", classOf[CmsEstimate], CmsEstimate.build),
    ("normalize_text", classOf[NormalizeText], NormalizeText.build),
    ("word_chunks", classOf[WordChunks], WordChunks.build))
}
