package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** The engine's one native-function catalog. Every codegen'd expression
  * is one row of [[GraftExtensions.functions]]: SQL name, expression
  * class, argument builder.
  *
  * The class is listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `ServiceLoader` applies it to every session the builder's
  * `getOrCreate()` makes (the perfbench harness's, [[GraftSession.local]]'s
  * and so every spec's): SQL, `expr(...)` and
  * `selectExpr` resolve all rows with no per-session call.
  * `--conf spark.sql.extensions=graft.GraftExtensions` names the same
  * class and injects the same table. */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}

object GraftExtensions {
  val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    (CdcBoundaries.fnName, classOf[CdcBoundaries], CdcBoundaries.builder),
    (CmsSketch.fnName, classOf[CmsSketch], CmsSketch.builder),
    (DotProduct.fnName, classOf[DotProduct], DotProduct.builder),
    (EncodingStats.fnName, classOf[EncodingStats], EncodingStats.builder),
    (H60Array.fnName, classOf[H60Array], H60Array.builder),
    (H60Hash.fnName, classOf[H60Hash], H60Hash.builder),
    (HllSketch.fnName, classOf[HllSketch], HllSketch.builder),
    (Int8QuantStats.fnName, classOf[Int8QuantStats], Int8QuantStats.builder),
    (JlProject.fnName, classOf[JlProject], JlProject.builder),
    (L2SqLong.fnName, classOf[L2SqLong], L2SqLong.builder),
    (LangScores.fnName, classOf[LangScores], LangScores.builder),
    (MetsFold.fnName, classOf[MetsFold], MetsFold.builder),
    (MinhashSig.fnName, classOf[MinhashSig], MinhashSig.builder),
    (NfcNormalize.fnName, classOf[NfcNormalize], NfcNormalize.builder),
    (NgramShingles.fnName, classOf[NgramShingles], NgramShingles.builder),
    (PolyFingerprint.fnName, classOf[PolyFingerprint], PolyFingerprint.builder),
    (SimHashBits.fnName, classOf[SimHashBits], SimHashBits.builder),
    (SortedMultiConcat.fnName, classOf[SortedMultiConcat], SortedMultiConcat.builder),
    (SubstrCensus.fnName, classOf[SubstrCensus], SubstrCensus.builder),
    (WinnowFingerprints.fnName, classOf[WinnowFingerprints], WinnowFingerprints.builder),
  )
}
