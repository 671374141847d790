package graft.functions

import java.text.Normalizer

import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (UAX #15) behind [[graft.plans.UnicodeNormalizeExpr]]. */
object UnicodeNorm {

  /** `u` in normal form `form`. Takes the `isNormalized` quick check
    * first: real web text is overwhelmingly already NFC, and then the
    * input is returned untouched, with no allocation. */
  def normalize(u: UTF8String, form: Normalizer.Form): UTF8String = {
    val s = u.toString
    if (Normalizer.isNormalized(s, form)) u
    else UTF8String.fromString(Normalizer.normalize(s, form))
  }
}
