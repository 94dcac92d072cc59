package graft.rdf

/** RDF term model (driver side).
  *
  * Mirrors the reference node model (rdflib): IRI | BNode | Literal with
  * (lexical, datatype, language) — see /root/reference/pyshacl/pytypes.py:10-11.
  * Spark-side representation is a 4-field struct column (v, k, dt, lang);
  * see [[graft.rdf.TriplesDF]]. Absent datatype/lang are encoded as "" so
  * struct equality works without null gymnastics.
  */
sealed trait Node extends Product with Serializable {
  def key: String // canonical term key (term equality)
}
final case class Iri(value: String) extends Node {
  def key: String = "<" + value + ">"
  override def toString: String = s"<$value>"
}
final case class BNode(id: String) extends Node {
  def key: String = "_:" + id
  override def toString: String = s"_:$id"
}
object Node {
  /** The inverse of [[Node.key]] for IRI (`<iri>`) and blank-node (`_:b`)
    * keys. Literal keys lower-case the language tag, so they do not decode. */
  def fromKey(key: String): Node =
    if (key.startsWith("_:")) BNode(key.drop(2)) else Iri(key.drop(1).dropRight(1))
}

/** dt == "" means a simple literal (no written datatype); this is kept
  * distinct from an explicit ^^xsd:string, mirroring rdflib term equality
  * (the reference special-cases this in sh:datatype —
  * /root/reference/pyshacl/constraints/core/value_constraints.py:224-235). */
final case class Lit(lex: String, dt: String = "", lang: String = "") extends Node {
  def key: String =
    if (lang.nonEmpty) "\"" + lex + "\"@" + lang.toLowerCase
    else if (dt.nonEmpty) "\"" + lex + "\"^^" + dt
    else "\"" + lex + "\""
  def effectiveDt: String =
    if (lang.nonEmpty) XSD.langString else if (dt.isEmpty) XSD.string else dt
  override def toString: String = key
}

final case class Triple(s: Node, p: Iri, o: Node)

object RDF {
  val ns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val ty = Iri(ns + "type")
  val first = Iri(ns + "first")
  val rest = Iri(ns + "rest")
  val nil = Iri(ns + "nil")
  val langString = ns + "langString"
  val subject = Iri(ns + "subject")
  val predicate = Iri(ns + "predicate")
  val objectP = Iri(ns + "object")
}
object RDFS {
  val ns = "http://www.w3.org/2000/01/rdf-schema#"
  val subClassOf = Iri(ns + "subClassOf")
  val subPropertyOf = Iri(ns + "subPropertyOf")
  val domain = Iri(ns + "domain")
  val range = Iri(ns + "range")
  val Resource = Iri(ns + "Resource")
  val Class = Iri(ns + "Class")
  val Datatype = Iri(ns + "Datatype")
  val LiteralC = Iri(ns + "Literal")
  val label = Iri(ns + "label")
  val comment = Iri(ns + "comment")
}
object XSD {
  val ns = "http://www.w3.org/2001/XMLSchema#"
  val string = ns + "string"
  val langString = RDF.langString
  val boolean = ns + "boolean"
  val integer = ns + "integer"
  val decimal = ns + "decimal"
  val float = ns + "float"
  val double = ns + "double"
  val date = ns + "date"
  val time = ns + "time"
  val dateTime = ns + "dateTime"
  val dateTimeStamp = ns + "dateTimeStamp"
  val duration = ns + "duration"
  val anyURI = ns + "anyURI"

  /** Whole-integer family — /root/reference/pyshacl/consts.py:13-26. */
  val integerTypes: Set[String] = Set(
    "integer", "nonPositiveInteger", "negativeInteger", "long", "int",
    "short", "byte", "nonNegativeInteger", "unsignedLong", "unsignedInt",
    "unsignedShort", "unsignedByte", "positiveInteger"
  ).map(ns + _)
  val numericTypes: Set[String] = integerTypes ++ Set(decimal, float, double)
}

/** XSD lexical-space validation + typed-value parsing.
  *
  * Equivalent of rdflib's value parsing + the reference's ill_typed checks
  * (/root/reference/pyshacl/constraints/core/value_constraints.py:219-267).
  */
object XsdLexical {
  private val intRe = "[+-]?[0-9]+".r
  private val decRe = "[+-]?(?:[0-9]+(?:\\.[0-9]*)?|\\.[0-9]+)".r
  private val dblRe =
    "(?:[+-]?(?:[0-9]+(?:\\.[0-9]*)?|\\.[0-9]+)(?:[eE][+-]?[0-9]+)?|[+-]?INF|NaN)".r
  private val dateRe = "-?[0-9]{4,}-[0-9]{2}-[0-9]{2}(?:Z|[+-][0-9]{2}:[0-9]{2})?".r
  private val timeRe = "[0-9]{2}:[0-9]{2}:[0-9]{2}(?:\\.[0-9]+)?(?:Z|[+-][0-9]{2}:[0-9]{2})?".r
  private val dateTimeRe =
    "-?[0-9]{4,}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}(?:\\.[0-9]+)?(?:Z|[+-][0-9]{2}:[0-9]{2})?".r

  private def inRange(lex: String, lo: BigInt, hi: BigInt): Boolean =
    try { val v = BigInt(lex.trim); v >= lo && v <= hi } catch { case _: Throwable => false }

  /** Is `lex` in the lexical space of datatype `dt`?
    * Unknown datatypes are never ill-typed (rdflib leaves them unparsed). */
  def isValid(lex: String, dt: String): Boolean = {
    val t = lex.trim
    dt match {
      case "" | XSD.string | RDF.langString => true
      case XSD.boolean => t == "true" || t == "false" || t == "0" || t == "1"
      case XSD.decimal => decRe.matches(t)
      case XSD.float | XSD.double => dblRe.matches(t)
      case XSD.date => dateRe.matches(t) && parseDateMicros(t).isDefined
      case XSD.time => timeRe.matches(t)
      case XSD.dateTime | XSD.dateTimeStamp =>
        dateTimeRe.matches(t) && parseDateTimeMicros(t).isDefined
      case d if XSD.integerTypes.contains(d) =>
        intRe.matches(t) && (d match {
          case x if x == XSD.ns + "integer" => true
          case x if x == XSD.ns + "nonPositiveInteger" => inRange(t, BigInt("-" + "9" * 40), 0)
          case x if x == XSD.ns + "negativeInteger" => inRange(t, BigInt("-" + "9" * 40), -1)
          case x if x == XSD.ns + "long" => inRange(t, Long.MinValue, Long.MaxValue)
          case x if x == XSD.ns + "int" => inRange(t, Int.MinValue, Int.MaxValue)
          case x if x == XSD.ns + "short" => inRange(t, Short.MinValue.toInt, Short.MaxValue.toInt)
          case x if x == XSD.ns + "byte" => inRange(t, Byte.MinValue.toInt, Byte.MaxValue.toInt)
          case x if x == XSD.ns + "nonNegativeInteger" => inRange(t, 0, BigInt("9" * 40))
          case x if x == XSD.ns + "unsignedLong" => inRange(t, 0, BigInt("18446744073709551615"))
          case x if x == XSD.ns + "unsignedInt" => inRange(t, 0, 4294967295L)
          case x if x == XSD.ns + "unsignedShort" => inRange(t, 0, 65535)
          case x if x == XSD.ns + "unsignedByte" => inRange(t, 0, 255)
          case x if x == XSD.ns + "positiveInteger" => inRange(t, 1, BigInt("9" * 40))
          case _ => true
        })
      case _ => true
    }
  }

  def parseNum(lex: String, dt: String): Option[BigDecimal] = {
    val t = lex.trim
    if (dt == XSD.decimal || XSD.integerTypes.contains(dt))
      try Some(BigDecimal(t)) catch { case _: Throwable => None }
    else if (dt == XSD.float || dt == XSD.double)
      t match {
        case "INF" | "+INF" => Some(BigDecimal("9" * 60))
        case "-INF" => Some(BigDecimal("-" + "9" * 60))
        case "NaN" => None
        case _ => try Some(BigDecimal(t)) catch { case _: Throwable => None }
      }
    else if (dt == XSD.boolean) parseBool(t).map(b => BigDecimal(if (b) 1 else 0))
    else None
  }

  def parseBool(lex: String): Option[Boolean] = lex.trim match {
    case "true" | "1" => Some(true)
    case "false" | "0" => Some(false)
    case _ => None
  }

  /** Epoch micros for date/dateTime; micros-of-day for time (comparisons
    * stay within one family, so the scales never mix). */
  def parseTemporal(lex: String, dt: String): Option[Long] = dt match {
    case XSD.date => parseDateMicros(lex.trim)
    case XSD.dateTime | XSD.dateTimeStamp => parseDateTimeMicros(lex.trim)
    case XSD.time => parseTimeMicros(lex.trim)
    case _ => None
  }

  private def parseDateMicros(t: String): Option[Long] =
    try {
      val (core, _) = splitTz(t)
      val d = java.time.LocalDate.parse(core)
      Some(d.toEpochDay * 86400L * 1000000L)
    } catch { case _: Throwable => None }

  private def parseDateTimeMicros(t: String): Option[Long] =
    try {
      val (core, tz) = splitTz(t)
      val ldt = java.time.LocalDateTime.parse(core)
      val off = tz.map(java.time.ZoneOffset.of(_)).getOrElse(java.time.ZoneOffset.UTC)
      val inst = ldt.toInstant(off)
      Some(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
    } catch { case _: Throwable => None }

  private def parseTimeMicros(t: String): Option[Long] =
    try {
      val (core, _) = splitTz(t)
      val lt = java.time.LocalTime.parse(core)
      Some(lt.toNanoOfDay / 1000L)
    } catch { case _: Throwable => None }

  def hasTz(lex: String): Boolean = splitTz(lex.trim)._2.isDefined

  private def splitTz(t: String): (String, Option[String]) =
    if (t.endsWith("Z")) (t.dropRight(1), Some("Z"))
    else {
      // timezone suffix +hh:mm / -hh:mm (careful: dates contain '-')
      val i = t.length - 6
      if (i > 7 && (t(i) == '+' || (t(i) == '-' && t.contains('T'))) && t(i + 3) == ':')
        (t.substring(0, i), Some(t.substring(i)))
      else (t, None)
    }
}

/** SPARQL-operator total order on RDF literals, mirroring
  * /root/reference/pyshacl/rdfutil/compare.py:179-203: comparable only
  * within a value family (numeric / string / boolean / temporal); returns
  * None for incomparable pairs (the reference raises TypeError, which the
  * range/pair constraints convert into a violation). */
object LitCompare {
  sealed trait Family
  case object FNum extends Family
  case object FStr extends Family
  case object FBool extends Family
  case object FDate extends Family
  case object FTime extends Family
  case object FDateTime extends Family
  case object FOther extends Family

  def family(l: Lit): Family = {
    val dt = l.effectiveDt
    if (dt == XSD.string || dt == RDF.langString) FStr
    else if (XSD.numericTypes.contains(dt)) FNum
    else if (dt == XSD.boolean) FBool
    else if (dt == XSD.date) FDate
    else if (dt == XSD.time) FTime
    else if (dt == XSD.dateTime || dt == XSD.dateTimeStamp) FDateTime
    else FOther
  }

  /** Some(cmp) when comparable, None when not (⇒ violation in range ops). */
  def compare(a: Lit, b: Lit): Option[Int] = {
    val fa = family(a); val fb = family(b)
    if (fa != fb) return None
    fa match {
      case FNum =>
        for {
          x <- XsdLexical.parseNum(a.lex, a.effectiveDt)
          y <- XsdLexical.parseNum(b.lex, b.effectiveDt)
        } yield x.compare(y)
      case FStr =>
        if (a.lang.nonEmpty || b.lang.nonEmpty) {
          if (a.lang.equalsIgnoreCase(b.lang)) Some(a.lex.compareTo(b.lex)) else None
        } else Some(a.lex.compareTo(b.lex))
      case FBool =>
        for (x <- XsdLexical.parseBool(a.lex); y <- XsdLexical.parseBool(b.lex))
          yield x.compareTo(y)
      case FDate | FTime | FDateTime =>
        // naive vs timezone-aware datetimes are incomparable (Python
        // raises TypeError — compare.py:8-17 deliberately avoids rdflib's
        // forced total order), e.g. SHT core/node/minInclusive-003
        if (fa != FDate && XsdLexical.hasTz(a.lex) != XsdLexical.hasTz(b.lex)) None
        else for {
          x <- XsdLexical.parseTemporal(a.lex, a.effectiveDt)
          y <- XsdLexical.parseTemporal(b.lex, b.effectiveDt)
        } yield x.compareTo(y)
      case FOther =>
        if (a.effectiveDt == b.effectiveDt) Some(a.lex.compareTo(b.lex)) else None
    }
  }

  /** Value equality (SPARQL `=` / rdflib Literal.eq), used by the report
    * comparator — numeric 7 == 7.0, else same family + equal value. */
  def valueEq(a: Lit, b: Lit): Boolean = compare(a, b).contains(0)
}
