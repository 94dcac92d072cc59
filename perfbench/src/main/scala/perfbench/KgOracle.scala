package perfbench

import graft.kg.DocSynth

import scala.collection.mutable

/** Single-threaded recount of what `KgPipeline.run` must produce for
  * `DocSynth` documents, computed straight from `DocSynth.spansFor` and a
  * union-find, without Spark. */
object KgOracle {
  final case class Expected(docs: Long, spans: Long, mentions: Long, entities: Long,
                            components: Long, triples: Long, conforms: Boolean)

  private val EntityToken = "Entity_([0-9]+)".r

  def expected(nDocs: Long, seed: Long): Expected = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    var spans = 0L
    var mentions = 0L
    var docEntityPairs = 0L
    var docMediaPairs = 0L
    val refs = mutable.HashSet.empty[String]
    var id = 0L
    while (id < nDocs) {
      val sp = DocSynth.spansFor(seed, id)
      spans += sp.size
      val ents = sp.iterator.filter(_.kind == "text")
        .flatMap(s => EntityToken.findAllMatchIn(s.text).map(_.group(1).toLong)).toVector
      mentions += ents.size
      ents.foreach(e => if (!parent.contains(e)) parent(e) = e)
      // every entity of a document lands in one component (the pipeline
      // chains consecutive mentions)
      ents.sliding(2).foreach { case Seq(a, b) => union(a, b); case _ => }
      docEntityPairs += ents.distinct.size
      val media = sp.filter(_.kind == "media").map(_.media_ref).distinct
      docMediaPairs += media.size
      refs ++= media
      id += 1
    }
    val entities = parent.size.toLong
    val components = parent.keysIterator.map(find).toSet.size.toLong
    // kg:mentions per (doc, entity); kg:canonical per non-root entity;
    // rdf:type and kg:label per component; kg:hasMedia per (doc, ref);
    // kg:mediaType per distinct ref
    val triples = docEntityPairs + (entities - components) + 2 * components +
      docMediaPairs + refs.size
    Expected(nDocs, spans, mentions, entities, components, triples, conforms = true)
  }
}
