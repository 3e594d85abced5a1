package graft.ingest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Logical scalar-type inference for attribute values.
  *
  * Reproduces the reference's positional regex chain
  * (/root/reference/lib/document_parser.rb:77-92): integer before float
  * before boolean before datetime, fallback string; nil/empty are
  * string. Values are stored unchanged — the tag is queryable metadata.
  *
  * Exposed both as a pure function (property-testable, driver-side) and
  * as a Catalyst column expression (codegen'd `CASE WHEN` chain — no
  * UDF, so it inlines into whole-stage codegen at scale).
  */
object TypeInference {
  private val IntRe = "^\\d+$".r
  private val FloatRe = "^\\d+\\.\\d+$".r
  private val BoolRe = "(?i)^(true|false)$".r
  private val DateRe = "^\\d{4}-\\d{2}-\\d{2}".r
  private val TimeRe = "^\\d{2}:\\d{2}:\\d{2}".r

  /** Pure Scala mirror of [[inferTypeCol]]; used by the SAX extractor
    * (one value at a time, exactly like the reference) and by
    * ScalaCheck property tests. */
  def inferType(value: String): String = value match {
    case null | "" => "string"
    case v if IntRe.findFirstIn(v).isDefined => "integer"
    case v if FloatRe.findFirstIn(v).isDefined => "float"
    case v if BoolRe.findFirstIn(v).isDefined => "boolean"
    case v if DateRe.findFirstIn(v).isDefined ||
      TimeRe.findFirstIn(v).isDefined => "datetime"
    case _ => "string"
  }

  /** The same chain as a Catalyst expression over a string column —
    * built from the same compiled patterns as [[inferType]], so the
    * two paths cannot drift. */
  def inferTypeCol(v: Column): Column =
    when(v.isNull || v === "", "string")
      .when(v.rlike(IntRe.regex), "integer")
      .when(v.rlike(FloatRe.regex), "float")
      .when(v.rlike(BoolRe.regex), "boolean")
      .when(v.rlike(DateRe.regex) || v.rlike(TimeRe.regex), "datetime")
      .otherwise("string")
}
