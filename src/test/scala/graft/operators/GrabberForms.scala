package graft.operators

import graft.etl.{Grabbers, Vocab}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The regex-tree and when-chain forms that native kernels replaced in
  * [[graft.etl.Grabbers]], kept as their executable specifications:
  * EnrichSpec and EnrichMediaSpec compare each kernel against its form
  * here. Like [[HofText]] and [[DateCascade]], these are references for
  * the specs, not code paths of the program. */
object GrabberForms {

  /** The comma-stripped first number as a regex tree — the
    * specification of [[graft.functions.NativeText.firstNumber]]. */
  def firstNumberText(c: Column): Column =
    nullif(regexp_replace(regexp_extract(c, Grabbers.FirstNumber, 1), ",", ""),
      lit(""))

  /** [[graft.etl.Grabbers.getExponent]] as a regex — the specification
    * of the native decimal-exponent kernel. */
  def getExponent(c: Column): Column = {
    val t = trim(c)
    when(t.rlike("^[+-]?[0-9]*\\.[0-9]*$"),
      length(regexp_extract(t, "\\.([0-9]*)$", 1)))
      .otherwise(lit(0))
  }

  /** [[graft.etl.Grabbers.licenseKey]] as the original 103-branch
    * when-chain — the specification the native hash probe is
    * parity-tested against. */
  def licenseKey(v: Column): Column =
    Vocab.licenseTrans.foldLeft(when(lit(false), lit("")))(
      (acc, kv) => acc.when(v === kv._1, kv._2))
}
