package perfbench

import graft.shacl.SH
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File

/** Each workload at smoke size: its output check passes on the engine, and
  * fails once one expected count or one planted violation is altered. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = new File("target/checks-spec").getAbsolutePath
  private var spark: SparkSession = _
  private var calls = 0

  override def beforeAll(): Unit = {
    System.setProperty("spark.callstack.depth", "400")
    spark = Main.session(work, 2)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(new File(work))
  }

  private def call(w: Workload, tr: Tracer = NoTrace): CallResult = {
    calls += 1
    val out = s"$work/out/$calls"
    try w.call(out, tr) finally Main.deleteTree(new File(out))
  }

  test("the recount reproduces the pinned 40k-document counts") {
    val e = KgOracle.expected(40000, 42)
    assert(e == KgOracle.Expected(40000, 179920, 286144, 9915, 3, 368985, conforms = true))
  }

  test("kg_build: check passes, then fails on an altered expected count") {
    val w = new KgBuild(spark, 300, 7)
    w.prepare()
    assert(call(w).failures.isEmpty)
    w.expected = w.expected.copy(triples = w.expected.triples + 1)
    assert(call(w).failures.exists(_.startsWith("store triples")))
  }

  private def shacl(tamper: Boolean) =
    new Shacl(spark, s"$work/input/shacl", 7, 200, Shacl.depths(0.5), tamper = tamper)

  test("shacl: check passes, then fails on an altered expected count") {
    val w = shacl(tamper = false)
    w.prepare()
    val ok = call(w)
    assert(ok.failures.isEmpty, ok.failures)
    assert(ok.violations == w.graph.violations.values.sum)
    val pattern = SH.PatternConstraintComponent.value
    w.graph = w.graph.copy(violations = w.graph.violations.updated(pattern,
      w.graph.violations(pattern) + 1))
    assert(call(w).failures.exists(_.contains(pattern)))
  }

  test("shacl: check fails when one planted violation is missing from the data") {
    val w = shacl(tamper = true)
    w.prepare()
    val fails = call(w).failures
    assert(fails.exists(_.contains(SH.MinCountConstraintComponent.value)), fails)
    assert(fails.exists(_.contains(SH.focusNode.value)), fails)
  }

  test("clean_docs: check passes, then fails on an altered URL-duplicate count") {
    val w = new CleanDocs(spark, s"$work/input/clean_docs", 7, 2000, fat = 1)
    w.prepare()
    val ok = call(w)
    assert(ok.failures.isEmpty, ok.failures)
    w.urlDropsExpected += 1
    assert(call(w).failures.exists(_.startsWith("url duplicates dropped")))
  }

  /** One traced call: its per-layer figures, spans and wall time. */
  private def traced(w: Workload): (Map[String, LayerStats], Seq[SpanRec], Double) = {
    val tr = new CallTrace(spark).start()
    val t0 = System.nanoTime()
    val r = tr.span("call")(call(w, tr))
    val t1 = System.nanoTime()
    assert(r.failures.isEmpty, r.failures)
    val (stats, spans) = tr.finish(t0, t1)
    val wall = (t1 - t0) / 1e9
    assert(math.abs(stats.values.map(_.wallS).sum - wall) < 0.01 * wall)
    // attribution works: what no layer claims stays a small share
    assert(stats("other").wallS < 0.1 * wall, s"other: ${stats("other").wallS} s of $wall s")
    (stats, spans, wall)
  }

  test("a traced kg_build call is broken down into layers that add up to it") {
    val w = new KgBuild(spark, 300, 7)
    w.prepare()
    val (stats, spans, _) = traced(w)
    for (l <- Seq("kg.spans", "kg.components", "kg.triples", "kg.store", "kg.recount",
                  "lineage", "shacl.engine"))
      assert(stats(l).jobs > 0, s"$l launched no attributed jobs")
    assert(stats("kg.spans").wallS > 0 && stats("shacl.engine").wallS > 0)
    assert(spans.exists(s => s.name == "kg" && s.parent == "call"))
  }

  test("a traced shacl call is broken down into layers that add up to it") {
    val w = shacl(tamper = false)
    w.prepare()
    val (stats, _, _) = traced(w)
    for (l <- Seq("shacl.infer", "shacl.rules", "shacl.engine", "shacl.report"))
      assert(stats(l).jobs > 0, s"$l launched no attributed jobs")
    assert(stats("shacl.engine").wallS > 0 && stats("shacl.infer").wallS > 0)
  }

  test("shacl at chain depths 10/15/4: the report agrees with the validation counts") {
    for (seed <- Seq(7L, 101L)) {
      val w = new Shacl(spark, s"$work/input/shacl-deep", seed, Shacl.Records,
        Shacl.depths(1.0).copy(chainDepth = 10, partDepth = 15, treeDepth = 4))
      w.prepare()
      val r = call(w)
      assert(r.failures.isEmpty, s"seed $seed: ${r.failures}")
    }
  }
}
