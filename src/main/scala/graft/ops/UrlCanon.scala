package graft.ops

import java.util.regex.Pattern

import org.apache.spark.sql.{CatalystColumns, Column}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Canonical URL of a string column (string in, string out, null stays
  * null): the key [[CleanPipeline.urlDedup]] groups on, with the rules
  * documented at [[TextOps.urlCanon]].
  *
  * The rules are a chain of nine regex steps; the DuckDB oracle of
  * q_url_canon / q_clean_pipeline runs the same chain as SQL. Spark
  * columns would inline every intermediate into each of its uses (for
  * `url_dedup` a 2,664-node plan with 400 regex nodes, optimized,
  * compiled and evaluated per row), so this expression runs the nine
  * steps once per row in one static method (same pattern as
  * [[WordShingles]]): the same patterns, replacements and order, on
  * `java.util.regex.Pattern`s compiled once, with `replaceAll` where the
  * chain has `regexp_replace` and the first `find()`'s group 0 (else "")
  * where it has `regexp_extract(_, _, 0)`. The head is lower-cased by the
  * routine Spark's `lower` runs for the default collation, under the same
  * `spark.sql.icu.caseMappings.enabled` setting. Output strings are
  * byte-identical to the column chain (OpsSpec pins it). */
case class UrlCanon(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  // AbstractDataType is private[sql]: the inferred Seq[StringType] overrides
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_url_canon"

  /** Read where Spark's `Lower` reads it. */
  private lazy val icuLower = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullSafeEval(s: Any): Any =
    UrlCanon.canon(s.asInstanceOf[UTF8String], icuLower)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.UrlCanon.canon($c, $icuLower)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UrlCanon {
  private val Fragment = Pattern.compile("#.*")
  private val Head = Pattern.compile("^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*")
  private val HttpPort = Pattern.compile("^(http://[^/:?#]+):80([/?#]|$)")
  private val HttpsPort = Pattern.compile("^(https://[^/:?#]+):443([/?#]|$)")
  private val Base = Pattern.compile("^[^?]*")
  private val Tracking = Pattern.compile("(^|&)(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*")
  private val AmpRun = Pattern.compile("&&+")
  private val EdgeAmps = Pattern.compile("^&+|&+$")
  private val RootSlash = Pattern.compile("^(https?://[^/?#]+)/([?#]|$)")

  /** The canonical-URL column of a string column. */
  def column(url: Column): Column = CatalystColumns.wrap(url)(UrlCanon(_))

  /** `regexp_extract(s, p, 0)` */
  private def extract(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find()) m.group() else ""
  }

  /** The nine steps, shared by interpreted eval and generated code. `head`
    * and `base` are anchored prefixes, so the column chain's code-point
    * `substr` after them is the suffix after their string length. */
  def canon(url: UTF8String, icuLower: Boolean): UTF8String = {
    val noFrag = Fragment.matcher(url.toString).replaceAll("")
    val head = extract(Head, noFrag)
    val lowerHead = CollationSupport.Lower.exec(UTF8String.fromString(head),
      CollationFactory.UTF8_BINARY_COLLATION_ID, icuLower).toString
    val lowered = lowerHead + noFrag.substring(head.length)
    val noPort = HttpsPort.matcher(HttpPort.matcher(lowered).replaceAll("$1$2"))
      .replaceAll("$1$2")
    val base = extract(Base, noPort)
    // the character after a shorter base is the first '?'
    val qs = if (noPort.length > base.length) noPort.substring(base.length + 1) else ""
    val qs2 = Tracking.matcher(qs).replaceAll("$1")
    val qs3 = EdgeAmps.matcher(AmpRun.matcher(qs2).replaceAll("&")).replaceAll("")
    val tidy = if (qs3.isEmpty) base else s"$base?$qs3"
    UTF8String.fromString(RootSlash.matcher(tidy).replaceAll("$1$2"))
  }
}
