package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-side triple representation.
  *
  * Schema: s STRUCT<v,k,dt,lang>, p STRING, o STRUCT<v,k,dt,lang>
  * where k: 0=IRI, 1=BNode, 2=Literal; dt/lang are "" when absent so
  * struct equality gives rdflib-style *term* equality for joins/distinct.
  * Predicate is a top-level string column — the SHACL workload is
  * predicate-driven, so filters on `p` prune partitions/row-groups first
  * (mirrors the reference's POS index, graph_abstraction.py usage).
  */
object TriplesDF {
  final case class TermRow(v: String, k: Byte, dt: String, lang: String)
  object TermRow {
    def of(n: Node): TermRow = n match {
      case Iri(x) => TermRow(x, 0, "", "")
      case BNode(id) => TermRow(id, 1, "", "")
      case Lit(lex, dt, lang) => TermRow(lex, 2, dt, lang)
    }
    def toNode(t: TermRow): Node = t.k match {
      case 0 => Iri(t.v)
      case 1 => BNode(t.v)
      case _ => Lit(t.v, t.dt, t.lang)
    }
  }
  final case class TripleRow(s: TermRow, p: String, o: TermRow)

  val termType: StructType = StructType(Seq(
    StructField("v", StringType, nullable = false),
    StructField("k", ByteType, nullable = false),
    StructField("dt", StringType, nullable = false),
    StructField("lang", StringType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("s", termType, nullable = false),
    StructField("p", StringType, nullable = false),
    StructField("o", termType, nullable = false)))

  def rowOf(n: Node): Row = n match {
    case Iri(v) => Row(v, 0.toByte, "", "")
    case BNode(id) => Row(id, 1.toByte, "", "")
    case Lit(lex, dt, lang) => Row(lex, 2.toByte, dt, lang)
  }

  def nodeOf(r: Row): Node = r.getByte(1) match {
    case 0 => Iri(r.getString(0))
    case 1 => BNode(r.getString(0))
    case _ => Lit(r.getString(0), r.getString(2), r.getString(3))
  }

  /** Constant term column for plan-time constants. */
  def termLit(n: Node): Column = n match {
    case Iri(v) => struct(lit(v).as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    case BNode(id) => struct(lit(id).as("v"), lit(1.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    case Lit(lex, dt, lang) => struct(lit(lex).as("v"), lit(2.toByte).as("k"), lit(dt).as("dt"), lit(lang).as("lang"))
  }

  def nullTerm: Column = lit(null).cast(termType)

  /** Canonical term key of a term struct column (= Node.key). */
  def termKey(c: Column): Column =
    when(c.isNull, lit(null))
      .when(c("k") === 0, concat(lit("<"), c("v"), lit(">")))
      .when(c("k") === 1, concat(lit("_:"), c("v")))
      .otherwise(concat(lit("\""), c("v"), lit("\""),
        when(c("lang") =!= "", concat(lit("@"), lower(c("lang"))))
          .when(c("dt") =!= "", concat(lit("^^"), c("dt")))
          .otherwise(lit(""))))

  /** Term struct column of a term-key string column, the column twin of
    * [[Node.fromKey]]: it decodes IRI and blank-node keys only. */
  def keyTerm(k: Column): Column =
    when(k.startsWith("_:"),
      struct(k.substr(lit(3), length(k)).as("v"), lit(1.toByte).as("k"),
        lit("").as("dt"), lit("").as("lang")))
      .otherwise(
        struct(regexp_replace(k, "^<|>$", "").as("v"), lit(0.toByte).as("k"),
          lit("").as("dt"), lit("").as("lang")))

  def fromTriples(spark: SparkSession, ts: Seq[Triple]): DataFrame = {
    val rows = ts.map(t => Row(rowOf(t.s), t.p.value, rowOf(t.o)))
    spark.createDataFrame(new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  def fromMemGraph(spark: SparkSession, g: MemGraph): DataFrame =
    fromTriples(spark, g.toSeq)

  def collectTriples(df: DataFrame): Seq[Triple] =
    df.collect().toSeq.map(r =>
      Triple(nodeOf(r.getStruct(0)), Iri(r.getString(1)), nodeOf(r.getStruct(2))))

  /** Distributed N-Triples scan: text lines -> triples (the at-scale
    * ingest path; each line parses independently). */
  def readNTriples(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val lines = spark.read.textFile(path)
    val parsed = lines.flatMap { line =>
      val t = line.trim
      if (t.isEmpty || t.startsWith("#")) Iterator.empty
      else {
        val (triples, _) = new TurtleParser(t, "file:///", "nt").parse()
        triples.iterator.map(tr => TripleRow(TermRow.of(tr.s), tr.p.value, TermRow.of(tr.o)))
      }
    }
    parsed.toDF("s", "p", "o")
  }

  final case class QuadRow(s: TermRow, p: String, o: TermRow, g: String)

  /** Term struct -> N-Triples token as a codegen'd Column (escaping via a
    * regexp chain): the distributed EXPORT path — at 100 TB a graph dump
    * is `df.select(ntLine).write.text(shards)`, never a driver serialize. */
  /** N-Triples literal escaping as a Column (backslash, quote, \n \r \t). */
  def ntEscape(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      c, "\\\\", "\\\\\\\\"), "\"", "\\\\\""), "\n", "\\\\n"), "\r", "\\\\r"),
      "\t", "\\\\t")

  def ntTermCol(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val esc = ntEscape(t("v"))
    when(t("k") === 0, concat(lit("<"), t("v"), lit(">")))
      .when(t("k") === 1, concat(lit("_:"), t("v")))
      .otherwise(concat(lit("\""), esc, lit("\""),
        when(t("lang") =!= "", concat(lit("@"), t("lang")))
          .when(t("dt") =!= "", concat(lit("^^<"), t("dt"), lit(">")))
          .otherwise(lit(""))))
  }

  /** One N-Triples/N-Quads line per row (g = "" -> no graph token). */
  private def ntLine(withGraph: Boolean): org.apache.spark.sql.Column =
    concat(Seq(ntTermCol(col("s")), lit(" <"), col("p"), lit("> "), ntTermCol(col("o"))) ++
      (if (withGraph)
        Seq(when(col("g") =!= "", concat(lit(" <"), col("g"), lit(">"))).otherwise(lit("")))
       else Nil) :+ lit(" ."): _*)

  /** Distributed N-Triples export: text shards, parallel over partitions. */
  def writeNTriples(df: DataFrame, path: String): Unit =
    df.select(ntLine(withGraph = false).as("value")).write.mode("overwrite").text(path)

  /** Distributed N-Quads export of a quads frame (s,p,o,g). */
  def writeNQuads(quads: DataFrame, path: String): Unit =
    quads.select(ntLine(withGraph = true).as("value")).write.mode("overwrite").text(path)

  /** Distributed N-Quads scan: like readNTriples with an optional 4th
    * graph term per line ("" = default graph). Each line parses
    * independently, so ingest parallelizes over file splits. */
  def readNQuads(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val lines = spark.read.textFile(path)
    val parsed = lines.flatMap { line =>
      val t = line.trim
      if (t.isEmpty || t.startsWith("#")) Iterator.empty
      else {
        // split the optional graph label off the right: the line is
        // `<s> <p> o (g)? .`; the graph term is IRI or bnode, so scanning
        // back from the final '.' cannot land inside a literal
        val dot = t.lastIndexOf('.')
        val body = if (dot >= 0) t.substring(0, dot).trim else t
        val (triplePart, g) =
          if (body.endsWith(">") || body.matches(".*_:[A-Za-z0-9._-]+$")) {
            // candidate 4th term; only a graph if 3 terms precede it
            val cut =
              if (body.endsWith(">")) body.lastIndexOf('<')
              else body.lastIndexOf("_:")
            val head = body.substring(0, cut).trim
            // a head ending in a complete object (>, ", or bnode/word) with
            // 3 terms means the tail is the graph label
            val (ts0, _) = try new TurtleParser(head + " .", "file:///", "nt").parse()
              catch { case _: Throwable => (Nil, Map.empty[String, String]) }
            if (ts0.size == 1) {
              val gterm = body.substring(cut).trim
              val gname =
                if (gterm.startsWith("<")) gterm.drop(1).dropRight(1)
                else gterm // _:bnode graph label keeps its key form
              (head + " .", gname)
            } else (body + " .", "")
          } else (body + " .", "")
        val (triples, _) = new TurtleParser(triplePart, "file:///", "nt").parse()
        triples.iterator.map(tr =>
          QuadRow(TermRow.of(tr.s), tr.p.value, TermRow.of(tr.o), g))
      }
    }
    parsed.toDF("s", "p", "o", "g")
  }
}

/** Scalar kernels used inside DataFrame plans. Registered once per session.
  * Semantics: SPARQL-operator comparison (rdfutil/compare.py:179-203) and
  * XSD well-formedness (value_constraints.py:219-267). */
object Kernels {
  // keyed by the session itself (weak): identityHashCode can collide across
  // distinct sessions and dead ids accumulate — same fix as ArrayDotProduct
  private val registeredFor = new java.util.WeakHashMap[SparkSession, Unit]()

  def ensure(spark: SparkSession): Unit = registeredFor.synchronized {
    if (registeredFor.containsKey(spark)) return
    locally {
      // cmp(value term fields, constant literal fields) -> Int or null
      spark.udf.register("rdf_cmp",
        (vv: String, vk: Byte, vdt: String, vlang: String,
         blex: String, bdt: String, blang: String) => {
          if (vk != 2) null
          else LitCompare.compare(Lit(vv, vdt, vlang), Lit(blex, bdt, blang))
            .map(Integer.valueOf).orNull
        })
      // well-formedness of a lexical form for a datatype
      spark.udf.register("rdf_well_typed",
        (lex: String, dt: String) => XsdLexical.isValid(lex, dt))
      // sh:lessThan pair check -> true when the pair VIOLATES
      // (string/non-string mix, incomparable, or not strictly less) —
      // property_pair_constraints.py:347-380
      spark.udf.register("rdf_lt_violates",
        (vv: String, vk: Byte, vdt: String, vlang: String,
         cv: String, ck: Byte, cdt: String, clang: String, orEquals: Boolean) => {
          def isStringy(k: Byte, dt: String, lang: String): Boolean =
            k == 0 || (k == 2 && (dt.isEmpty || dt == XSD.string || lang.nonEmpty))
          if (vk == 1 || ck == 1) true // BNode: reference raises; we report
          else {
            val vs = isStringy(vk, vdt, vlang)
            val cs = isStringy(ck, cdt, clang)
            if (vs != cs) true
            else if (vs) {
              val a = vv; val b = cv
              if (orEquals) !(a <= b) else !(a < b)
            } else {
              LitCompare.compare(Lit(vv, vdt, vlang), Lit(cv, cdt, clang)) match {
                case Some(c) => if (orEquals) c > 0 else c >= 0
                case None => true
              }
            }
          }
        })
      registeredFor.put(spark, ())
    }
  }
}
