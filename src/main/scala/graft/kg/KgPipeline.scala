package graft.kg

import graft.rdf.TurtleParser
import graft.shacl.{ValidationOptions, Validator}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The north-rule KG-construction pipeline:
  * docs -> span tagging -> mention detection -> batched entity-link
  * scoring per partition -> connected-components canonicalization ->
  * triple materialization into a predicate-partitioned store -> SHACL
  * validation of the emitted graph.
  *
  * Triple emission semantics follow SHACL-AF TripleRule: per focus doc,
  * the cartesian S×P×O of node-expression results, deduped against
  * existing triples (/root/reference/pyshacl/rules/triple/__init__.py:55-115)
  * — here each stage is set-oriented so the "per focus" loop is a join.
  */
object KgPipeline {
  val KG = "http://graft.dev/kg#"

  final case class Link(doc_id: String, span_idx: Int, surface: String,
                        entity_id: Long, score: Double)

  /** Stage 1: span tagger. posexplode preserves array order — the per-row
    * span-sequence (kind, text, media_ref, order) invariant. */
  def tagSpans(docs: Dataset[Doc]): DataFrame =
    docs.select(col("doc_id"), posexplode(col("spans")).as(Seq("span_idx", "span")))
      .select(col("doc_id"), col("span_idx"),
        col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("media_ref"), col("span.offset").as("offset"))

  /** Stage 2: mention detection over text spans (codegen'd regex — no UDF). */
  def mentions(spans: DataFrame): DataFrame =
    spans.filter(col("kind") === "text")
      .select(col("doc_id"), col("span_idx"), col("offset"),
        explode(expr("regexp_extract_all(text, 'Entity_[0-9]+', 0)")).as("surface"))

  /** Stage 3: entity-link scoring. [[EntityScorer]] defines the scoring
    * contract (deterministic String.hashCode-derived confidence); the
    * distributed path evaluates the same arithmetic as native codegen'd
    * column expressions — the r1-r7 typed mapPartitions closure paid an
    * encoder round trip (InternalRow -> Scala tuple -> Link object ->
    * InternalRow) per mention and hid the projection from Catalyst
    * (guide §4/§2.3: opaque closures defeat column pruning). Values are
    * bit-identical: graft_java_hash IS String.hashCode, and the
    * long/double arithmetic mirrors score() operation for operation. */
  def linkEntities(spark: SparkSession, mentions: DataFrame): Dataset[Link] = {
    import spark.implicits._
    JavaStringHash.ensure(spark)
    val dh = call_function("graft_java_hash", $"doc_id").cast("long")
    val sh = call_function("graft_java_hash", $"surface").cast("long")
    val h = (dh * 31L + sh).bitwiseAND(lit(0x7fffffffL))
    mentions.select(
      $"doc_id",
      $"span_idx".cast("int").as("span_idx"),
      $"surface",
      substring($"surface", 8, Int.MaxValue).cast("long").as("entity_id"),
      (lit(0.5) + (h % 1000L).cast("double") / 2000.0d).as("score")
    ).as[Link]
  }

  /** Reference scorer — the per-row contract [[linkEntities]] compiles to
    * column expressions (kept as the executable spec + for tests). */
  final class EntityScorer extends Serializable {
    def score(doc: String, idx: Int, surface: String): Link = {
      val id = surface.stripPrefix("Entity_").toLong
      // deterministic confidence in (0.5, 1.0]
      val h = (doc.hashCode.toLong * 31 + surface.hashCode) & 0x7fffffff
      Link(doc, idx, surface, id, 0.5 + (h % 1000) / 2000.0)
    }
  }

  /** Stage 4: canonicalization. Entities sharing a surface-form family
    * (id and id rotated by vocab/2 bucket — a stand-in for alias edges)
    * plus co-occurrence chains within a doc collapse via CC. */
  def entityEdges(links: DataFrame): DataFrame = {
    // co-occurrence chain: consecutive mentions in one doc (linear, not
    // quadratic, in mentions per doc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("span_idx"), col("entity_id"))
    links.select(col("doc_id"), col("span_idx"), col("entity_id"))
      .withColumn("next_id", lead(col("entity_id"), 1).over(w))
      .filter(col("next_id").isNotNull)
      .select(col("entity_id").as("src"), col("next_id").as("dst"))
  }

  def canonicalize(spark: SparkSession, links: DataFrame): DataFrame = {
    val edges = entityEdges(links)
    val vertices = links.select(col("entity_id").as("id")).distinct()
    // vertices = the link entities = exactly the edge-id universe, so the
    // fused finale applies (one anti-join instead of roots + singletons)
    ConnectedComponents.runWithVertices(spark, edges, vertices)
  }

  /** Stage 5: triple materialization (TripleRule-style S×P×O per focus).
    * Emitted triple sets are distinct; re-running the stage cannot append
    * duplicates because the store commit is lineage-gated (the "store"
    * marker below), not anti-joined per row.
    *
    * Every output branch depends only on the DISTINCT (doc, entity) pairs
    * or on the (entity -> component) table, never on the per-link payload,
    * so the decisions happen on those narrow proxies (guide §2.3/§8:
    * shuffle keys, not payloads) and no join side carries per-link
    * multiplicity, which leaves Zipf-head entity ids no skew to cause. */
  def materializeTriples(links: DataFrame, components: DataFrame,
                         nLinksHint: Option[Long] = None): DataFrame = {
    val docIri = concat(lit("http://graft.dev/doc/"), regexp_replace(col("doc_id"), "^doc:", ""))
    val entIri = concat(lit(KG), lit("entity/"), col("entity_id"))
    val canonIri = concat(lit(KG), lit("entity/"), col("component"))
    // entity-scale (vocab-bounded) frames; distincts defend the set
    // semantics of the old per-branch distincts for any caller input.
    // The shared proxies are localCheckpoint'd: Spark does not share a
    // subplan across union branches, so without a materialization the
    // pairs distinct would recompute once PER BRANCH; the checkpointed
    // frames are narrow (pairs) or vocab-bounded (comp, present). The
    // checkpoints are lazy, but under AQE (which every session of this
    // project enables) a lazy checkpoint still plans its query and runs
    // its shuffle-map stages in the call: the three distincts' shuffles run one after another, here,
    // and only their final stages wait for the consuming action.
    val comp = components.select(col("id").as("entity_id"), col("component"))
      .distinct().localCheckpoint(false)
    val compIds = comp.select(col("entity_id")).distinct()
    val pairs = links.select(col("doc_id"), col("entity_id")).distinct()
      .localCheckpoint(false)
    val entIds = pairs.select(col("entity_id")).distinct()
    // inner join against the component ids keeps the old inner-join
    // semantics (links whose entity lacks a component row emit nothing)
    val mentions = pairs.join(compIds, "entity_id")
      .select(docIri.as("s"), lit(KG + "mentions").as("p"), entIri.as("o"))
    // components restricted to entities that actually appear in links
    val present = comp.join(entIds, "entity_id").localCheckpoint(false)
    // no self-loops: canonical roots carry no kg:canonical edge (and the
    // shapes graph asserts canonical entities have none)
    val canon = present.filter(col("entity_id") =!= col("component"))
      .select(entIri.as("s"), lit(KG + "canonical").as("p"), canonIri.as("o"))
    val comps = present.select(col("component")).distinct()
    val types = comps.select(canonIri.as("s"), lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").as("p"),
      lit(KG + "Entity").as("o"))
    val labels = comps.select(canonIri.as("s"), lit(KG + "label").as("p"),
      concat(lit("Entity_"), col("component")).as("o"))
    mentions.unionByName(canon).unionByName(types).unionByName(labels)
  }

  /** Media stage: the interleaved media spans flow through the multimodal
    * plumbing (batched per-partition stub decode — ops/Multimodal) and emit
    * (doc, kg:hasMedia, ref) + (ref, kg:mediaType, type) triples. */
  def mediaTriples(spark: SparkSession, spans: DataFrame): DataFrame = {
    val refs = spans.filter(col("kind") === "media")
      .select(col("doc_id"), col("media_ref"))
    val feats = graft.ops.Multimodal.decodeFeatures(spark,
      graft.ops.Multimodal.synthPayloads(spark,
        refs.select(col("media_ref")).distinct(), "media_ref")).toDF()
    val docIri = concat(lit("http://graft.dev/doc/"), regexp_replace(col("doc_id"), "^doc:", ""))
    refs.select(docIri.as("s"), lit(KG + "hasMedia").as("p"), col("media_ref").as("o"))
      .distinct()
      .unionByName(feats.select(col("media_ref").as("s"),
        lit(KG + "mediaType").as("p"), col("media_type").as("o")).distinct())
  }

  /** SHACL shapes every emitted graph must satisfy (validated with the
    * engine itself — ties construction and validation together). */
  val shapesTtl: String =
    """@prefix sh: <http://www.w3.org/ns/shacl#> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |@prefix kg: <http://graft.dev/kg#> .
      |kg:EntityShape a sh:NodeShape ;
      |  sh:targetClass kg:Entity ;
      |  sh:property [ sh:path kg:label ; sh:minCount 1 ; sh:datatype xsd:string ] ;
      |  sh:property [ sh:path kg:canonical ; sh:maxCount 0 ] .
      |kg:MentionShape a sh:NodeShape ;
      |  sh:targetSubjectsOf kg:mentions ;
      |  sh:property [ sh:path kg:mentions ; sh:nodeKind sh:IRI ; sh:minCount 1 ] .
      |kg:MediaShape a sh:NodeShape ;
      |  sh:targetObjectsOf kg:hasMedia ;
      |  sh:property [ sh:path kg:mediaType ; sh:minCount 1 ; sh:maxCount 1 ;
      |                sh:in ( "image" "audio" "video" ) ] .
      |""".stripMargin

  /** Lift plain (s, p, o) strings into the engine's term-struct frame. The
    * object's kind follows from the predicate: kg:label and kg:mediaType
    * objects are literals, every other object an IRI. */
  def termFrame(triples: DataFrame): DataFrame = {
    def term(c: Column, kind: Column) =
      struct(c.as("v"), kind.as("k"), lit("").as("dt"), lit("").as("lang"))
    val oKind = when(col("p").isin(KG + "label", KG + "mediaType"), lit(2.toByte))
      .otherwise(lit(0.toByte))
    triples.select(term(col("s"), lit(0.toByte)).as("s"), col("p"), term(col("o"), oKind).as("o"))
  }

  final case class Counts(docs: Long, spans: Long, mentions: Long, links: Long,
                          entities: Long, components: Long, triples: Long,
                          conforms: Boolean)

  /** Full run with lineage/resume; returns stage counts. */
  def run(spark: SparkSession, outRoot: String, nDocs: Long, seed: Long = 42,
          partitions: Int = 32, validate: Boolean = true,
          runId: String = "run1"): Counts = {
    val lin = new Lineage(spark, outRoot, runId)
    val ck = s"docs=$nDocs;seed=$seed"

    val docs = DocSynth.docs(spark, nDocs, seed, partitions)
    val spans = lin.stage("spans", ck)(tagSpans(docs))
    val ments = lin.stage("mentions", ck)(mentions(spans))
    val links = lin.stage("links", ck)(linkEntities(spark, ments).toDF())
    // one row per link entity, one root (id == component) per component:
    // the roots are counted in the write job; only a resume recounts them
    var roots: Option[Observation] = None
    val isRoot = col("id") === col("component")
    val comps = lin.stage("components", ck) {
      roots = Some(Observation())
      canonicalize(spark, links).observe(roots.get, count(when(isRoot, 1)).as("n"))
    }
    val triples = lin.stage("triples", ck) {
      // predicate-partitioned store: filters on p prune whole directories
      materializeTriples(links, comps)
        .unionByName(mediaTriples(spark, spans))
    }
    // Iceberg-shaped store: the run's predicates are OVERWRITTEN (not
    // appended), so re-running with different parameters replaces the
    // previous graph instead of unioning with it — old snapshots stay
    // time-travelable until vacuum. Lineage-gated so resumed runs with an
    // identical checksum do not commit duplicate snapshots.
    val store = new TripleStore(spark, s"$outRoot/triple_store")
    lin.marker("store", ck) {
      val preds = triples.select(col("p")).distinct().collect().map(_.getString(0))
      store.overwritePartitions(triples, preds.toSeq)
      lin.rowsOf("triples").get // every predicate is overwritten: all rows
    }

    // Validate the emitted graph AT SCALE: the (s,p,o) strings lift into
    // the engine's term-struct frame; no driver collect of the data.
    val conforms = if (!validate) true else {
      val shapes = TurtleParser.parseGraph(shapesTtl, "http://graft.dev/shapes")
      // at-scale path: conformance from a distributed count aggregation,
      // no driver collect of violations; release the engine's checkpoint
      // blocks once the verdict is read
      val out = Validator.validateFrameAtScale(spark, termFrame(triples), shapes, ValidationOptions())
      val c = out.conforms
      out.release()
      c
    }

    // counts the stages already paid for; the store's live rows take one read
    def rows(stage: String): Long = lin.rowsOf(stage).get
    Counts(
      docs = nDocs,
      spans = rows("spans"),
      mentions = rows("mentions"),
      links = rows("links"),
      entities = rows("components"),
      components = roots.fold(comps.filter(isRoot).count())(_.get("n").asInstanceOf[Long]),
      triples = store.read().count(),
      conforms = conforms)
  }
}
