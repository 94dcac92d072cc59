package graft.shacl

import graft.rdf._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SHACL SPARQLFunctions compiled to Catalyst columns.
  *
  * The reference registers sh:SPARQLFunction definitions as SPARQL
  * extension functions evaluated per call
  * (/root/reference/pyshacl/functions/shacl_function.py:175-427). Here the
  * supported subset — single-BIND / projected-expression SELECT bodies
  * (`SELECT (expr AS ?result) WHERE {}` or `... WHERE { BIND(expr AS
  * ?result) }`), which covers the reference's own test functions — is
  * parsed once and compiled into codegen-friendly Column expressions, so a
  * function call over a million focus nodes is one vectorized projection,
  * not a million query evaluations. Bodies beyond the compiled subset (real
  * WHERE clauses, sh:ask) parse through the full SPARQL frontend and
  * evaluate set-oriented — see ShaclFnDef and SparqlFrame.applyFn.
  */
object SparqlExpr {
  sealed trait Ast
  final case class AVar(name: String) extends Ast
  final case class ANum(v: BigDecimal) extends Ast
  final case class AStr(v: String) extends Ast
  final case class ABool(b: Boolean) extends Ast
  final case class ACall(fn: String, args: List[Ast]) extends Ast
  final case class ABin(op: String, l: Ast, r: Ast) extends Ast

  final class ParseError(msg: String) extends RuntimeException(msg)

  /** Extract the single result expression from a supported SELECT body. */
  def parseSelect(query: String): Ast = {
    val q = query.trim.replaceAll("\\s+", " ")
    val proj = "(?i)SELECT\\s*\\((.+)\\s+AS\\s+\\?result\\s*\\)\\s*WHERE\\s*\\{\\s*\\}".r
    val bind = "(?i)SELECT\\s+\\?result\\s+WHERE\\s*\\{\\s*BIND\\s*\\((.+)\\s+AS\\s+\\?result\\s*\\)\\s*\\.?\\s*\\}".r
    q match {
      case proj(e) => parseExpr(e)
      case bind(e) => parseExpr(e)
      case _ => throw new ParseError(
        s"Unsupported sh:select body for a compiled SHACLFunction (need single BIND/projection): $query")
    }
  }

  // --- tiny recursive-descent expression parser --------------------------
  def parseExpr(s: String): Ast = {
    val p = new P(s)
    val e = p.expr()
    p.ws()
    if (!p.eof) throw new ParseError(s"trailing input at ${p.pos} in: $s")
    e
  }

  private final class P(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def ws(): Unit = while (!eof && s(pos).isWhitespace) pos += 1
    def peek: Char = if (eof) '\u0000' else s(pos)
    def take(tok: String): Boolean = {
      ws()
      if (s.regionMatches(true, pos, tok, 0, tok.length)) { pos += tok.length; true } else false
    }
    def expr(): Ast = orExpr()
    def orExpr(): Ast = {
      var l = andExpr()
      while ({ ws(); s.regionMatches(pos, "||", 0, 2) }) { pos += 2; l = ABin("||", l, andExpr()) }
      l
    }
    def andExpr(): Ast = {
      var l = cmpExpr()
      while ({ ws(); s.regionMatches(pos, "&&", 0, 2) }) { pos += 2; l = ABin("&&", l, cmpExpr()) }
      l
    }
    def cmpExpr(): Ast = {
      val l = addExpr()
      ws()
      val ops = Seq("<=", ">=", "!=", "=", "<", ">")
      ops.find(o => s.regionMatches(pos, o, 0, o.length)) match {
        case Some(o) => pos += o.length; ABin(o, l, addExpr())
        case None => l
      }
    }
    def addExpr(): Ast = {
      var l = mulExpr()
      var go = true
      while (go) {
        ws()
        if (peek == '+') { pos += 1; l = ABin("+", l, mulExpr()) }
        else if (peek == '-') { pos += 1; l = ABin("-", l, mulExpr()) }
        else go = false
      }
      l
    }
    def mulExpr(): Ast = {
      var l = unary()
      var go = true
      while (go) {
        ws()
        if (peek == '*') { pos += 1; l = ABin("*", l, unary()) }
        else if (peek == '/') { pos += 1; l = ABin("/", l, unary()) }
        else go = false
      }
      l
    }
    def unary(): Ast = {
      ws()
      if (peek == '-') { pos += 1; ABin("-", ANum(0), unary()) }
      else if (peek == '!') { pos += 1; ACall("NOT", List(unary())) }
      else primary()
    }
    def primary(): Ast = {
      ws()
      if (peek == '(') { pos += 1; val e = expr(); ws(); expect(')'); e }
      else if (peek == '?' || peek == '$') {
        pos += 1
        val st = pos
        while (!eof && (s(pos).isLetterOrDigit || s(pos) == '_')) pos += 1
        AVar(s.substring(st, pos))
      } else if (peek == '"' || peek == '\'') {
        val q = peek; pos += 1
        val sb = new StringBuilder
        while (!eof && s(pos) != q) {
          if (s(pos) == '\\') { pos += 1; sb.append(s(pos)) } else sb.append(s(pos))
          pos += 1
        }
        expect(q)
        AStr(sb.toString)
      } else if (peek.isDigit || (peek == '.' && pos + 1 < s.length && s(pos + 1).isDigit)) {
        val st = pos
        while (!eof && (s(pos).isDigit || s(pos) == '.')) pos += 1
        ANum(BigDecimal(s.substring(st, pos)))
      } else {
        val st = pos
        while (!eof && (s(pos).isLetterOrDigit || s(pos) == '_')) pos += 1
        val name = s.substring(st, pos)
        if (name.isEmpty) throw new ParseError(s"cannot parse expression at $pos: $s")
        ws()
        if (peek == '(') {
          pos += 1
          val args = scala.collection.mutable.ListBuffer.empty[Ast]
          ws()
          if (peek != ')') {
            args += expr()
            while ({ ws(); peek == ',' }) { pos += 1; args += expr() }
          }
          expect(')')
          ACall(name.toUpperCase, args.toList)
        } else name.toLowerCase match {
          case "true" => ABool(true)
          case "false" => ABool(false)
          case other => throw new ParseError(s"unknown identifier '$other' in: $s")
        }
      }
    }
    private def expect(c: Char): Unit = {
      ws()
      if (peek != c) throw new ParseError(s"expected '$c' at $pos in: $s")
      pos += 1
    }
  }

  // --- compile to Column over typed values -------------------------------
  /** Typed intermediate: t in {"num","str","bool"}. */
  final case class Typed(col: Column, t: String)

  def compile(ast: Ast, env: Map[String, Typed]): Typed = ast match {
    case AVar(n) => env.getOrElse(n,
      throw new ParseError(s"unbound variable ?$n (params: ${env.keys.mkString(",")})"))
    case ANum(v) => Typed(lit(v.underlying), "num")
    case AStr(v) => Typed(lit(v), "str")
    case ABool(b) => Typed(lit(b), "bool")
    case ABin(op, l, r) =>
      val lc = compile(l, env); val rc = compile(r, env)
      op match {
        case "+" | "-" | "*" | "/" =>
          val x = lc.col.cast("decimal(38,10)"); val y = rc.col.cast("decimal(38,10)")
          Typed(op match {
            case "+" => x + y; case "-" => x - y; case "*" => x * y; case "/" => x / y
          }, "num")
        case "<" | "<=" | ">" | ">=" | "=" | "!=" =>
          val (x, y) =
            if (lc.t == "num" || rc.t == "num")
              (lc.col.cast("decimal(38,10)"), rc.col.cast("decimal(38,10)"))
            else (lc.col, rc.col)
          Typed(op match {
            case "<" => x < y; case "<=" => x <= y; case ">" => x > y
            case ">=" => x >= y; case "=" => x === y; case "!=" => x =!= y
          }, "bool")
        case "&&" => Typed(lc.col && rc.col, "bool")
        case "||" => Typed(lc.col || rc.col, "bool")
      }
    case ACall(fn, args) =>
      val cs = args.map(compile(_, env))
      fn match {
        case "CONCAT" => Typed(concat(cs.map(_.col.cast("string")): _*), "str")
        case "STR" => Typed(cs.head.col.cast("string"), "str")
        case "STRLEN" => Typed(length(cs.head.col.cast("string")).cast("decimal(38,10)"), "num")
        case "UCASE" => Typed(upper(cs.head.col.cast("string")), "str")
        case "LCASE" => Typed(lower(cs.head.col.cast("string")), "str")
        case "ABS" => Typed(abs(cs.head.col.cast("decimal(38,10)")), "num")
        case "IF" => Typed(when(cs(0).col, cs(1).col).otherwise(cs(2).col), cs(1).t)
        case "NOT" => Typed(!cs.head.col, "bool")
        case other => throw new ParseError(s"unsupported SPARQL function $other")
      }
  }

  /** Lift a term-struct column into a typed value per the declared
    * parameter datatype. */
  def termToTyped(term: Column, datatype: String): Typed =
    if (XSD.numericTypes.contains(datatype))
      Typed(term("v").cast("decimal(38,10)"), "num")
    else if (datatype == XSD.boolean) Typed(term("v") === "true" || term("v") === "1", "bool")
    else Typed(term("v"), "str")

  /** Render a typed result back into a term struct (SPARQL result typing:
    * whole numerics as xsd:integer, fractions as xsd:decimal, booleans as
    * xsd:boolean, strings as simple literals). */
  def typedToTerm(t: Typed): Column = t.t match {
    case "bool" =>
      struct(when(t.col, "true").otherwise("false").as("v"), lit(2.toByte).as("k"),
        lit(XSD.boolean).as("dt"), lit("").as("lang"))
    case "num" =>
      val d = t.col.cast("decimal(38,10)")
      val isWhole = d === d.cast("decimal(38,0)").cast("decimal(38,10)")
      struct(
        when(isWhole, d.cast("decimal(38,0)").cast("string"))
          .otherwise(d.cast("double").cast("string")).as("v"),
        lit(2.toByte).as("k"),
        when(isWhole, XSD.integer).otherwise(XSD.decimal).as("dt"),
        lit("").as("lang"))
    case _ =>
      struct(t.col.cast("string").as("v"), lit(2.toByte).as("k"),
        lit("").as("dt"), lit("").as("lang"))
  }
}

/** Gathered sh:SPARQLFunction definition. `body` is Left(compiled Column
  * AST) for single-BIND/projection SELECTs — the vectorized fast path — or
  * Right(parsed full SPARQL query) for bodies with real WHERE clauses /
  * sh:ask, evaluated set-oriented through [[SparqlFrame]] (the reference
  * runs arbitrary bodies per call, shacl_function.py:283-326). */
final case class ShaclFnDef(
  iri: Iri,
  params: List[(String, String, Boolean)], // (localname, datatype, optional)
  returnType: Option[String],
  body: Either[SparqlExpr.Ast, Sparql.SqQuery])

object ShaclFunctions {
  val SPARQLFunction = SH("SPARQLFunction")
  val parameter = SH("parameter")
  val select = SH("select")
  val askP = SH("ask")
  val optionalP = SH("optional")
  val returnType = SH("returnType")

  /** Gather function defs (shacl_function.py:175-230); parameters ordered
    * by sh:order when all present else by path localname (:204-214). */
  def gather(sg: MemGraph): Map[Node, ShaclFnDef] =
    sg.subjects(RDF.ty, SPARQLFunction).collect { case fn: Iri =>
      val bodyTxt = sg.value(fn, select).collect { case Lit(b, _, _) => (b, false) }
        .orElse(sg.value(fn, askP).collect { case Lit(b, _, _) => (b, true) })
      bodyTxt match {
        case Some((body, isAsk)) =>
          try {
            val ast: Either[SparqlExpr.Ast, Sparql.SqQuery] =
              if (isAsk) Right(Sparql.parseQuery(body, Sparql.collectPrefixes(sg, fn)))
              else try Left(SparqlExpr.parseSelect(body)) catch {
                case _: SparqlExpr.ParseError =>
                  Right(Sparql.parseQuery(body, Sparql.collectPrefixes(sg, fn)))
              }
            val params = sg.objects(fn, parameter).toList.map { p =>
              val path = sg.value(p, SH.path) match {
                case Some(Iri(v)) => v
                case _ => throw new SparqlExpr.ParseError(s"function param without sh:path on $fn")
              }
              val local = path.split("[#/]").last
              val dt = sg.value(p, SH.datatype) match {
                case Some(Iri(v)) => v
                case _ => XSD.string
              }
              val opt = sg.value(p, optionalP).exists { case Lit("true", _, _) => true; case _ => false }
              val order = sg.value(p, SH.order).collect { case Lit(lex, _, _) => BigDecimal(lex) }
              (local, dt, opt, order)
            }
            val ordered =
              if (params.nonEmpty && params.forall(_._4.isDefined)) params.sortBy(_._4.get)
              else params.sortBy(_._1)
            Some(fn -> ShaclFnDef(fn, ordered.map(p => (p._1, p._2, p._3)),
              sg.value(fn, returnType).collect { case Iri(v) => v }, ast))
          } catch {
            // unparseable body: leave unregistered (call sites then raise
            // the reference's "was not defined" error)
            case _: SparqlExpr.ParseError => None
            case _: Sparql.ParseError => None
          }
        case _ => None
      }
    }.flatten.toMap
}
