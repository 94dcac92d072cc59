package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Lineage bookkeeping costs no Spark job beyond the stage's own write,
  * one lineage append and one metrics append; a resumed stage runs no data
  * job; the observed row count matches a read-back count. */
class LineageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("lineage").toString

  private def metricNames(root: String, stage: String): Seq[String] =
    spark.read.parquet(s"$root/_metrics").filter($"stage" === stage)
      .select($"metric").as[String].collect().toSeq.sorted

  test("a computed stage runs only its write, the lineage append and one metrics append") {
    val root = tmpRoot()
    val (out, jobs) = TestSpark.countJobs {
      val lin = new Lineage(spark, root, "r")
      lin.stage("s", "ck", rows => Seq("extra" -> rows * 2.0))(spark.range(0, 1000, 1, 4).toDF())
    }
    assert(jobs == 3, s"expected write + lineage append + metrics append, got $jobs jobs")
    assert(out.schema == spark.read.parquet(s"$root/s").schema)
    assert(out.count() == 1000)
    assert(metricNames(root, "s") == Seq("extra", "rowsOut", "seconds"))
    val recorded = spark.read.parquet(s"$root/_metrics").filter($"stage" === "s")
    assert(recorded.select($"recordedAt").distinct().count() == 1, "metrics came in several appends")
    assert(recorded.filter($"metric" === "extra").select($"value").as[Double].head() == 2000.0)
  }

  test("a resumed stage runs no data job; a second handle sees the first handle's entries") {
    val root = tmpRoot()
    val lin1 = new Lineage(spark, root, "a")
    lin1.stage("s", "ck")(spark.range(0, 500, 1, 2).toDF())
    lin1.marker("m", "ck")(7L)

    val (lin2, openJobs) = TestSpark.countJobs(new Lineage(spark, root, "b"))
    assert(openJobs == 1, s"opening a handle should read the lineage table in one job, got $openJobs")
    assert(lin2.rowsOf("s") == Some(500L) && lin2.rowsOf("m") == Some(7L))
    assert(lin2.isDone("s", "ck") && !lin2.isDone("s", "other"))

    val (resumed, jobs) = TestSpark.countJobs {
      lin2.stage("s", "ck")(fail("a resumed stage must not evaluate its compute"))
    }
    // the parquet footer read that gives the output its schema, and the
    // `resumed` metrics append: nothing scans or rewrites the stage data
    assert(jobs == 2, s"expected footer read + resumed metric, got $jobs jobs")
    assert(resumed.count() == 500)
    var ran = false
    lin2.marker("m", "ck") { ran = true; 0L }
    assert(!ran, "a done marker must not run again")
    assert(metricNames(root, "s") == Seq("resumed", "rowsOut", "seconds"))

    // only a missing output recomputes
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/s"))
    var computed = false
    val again = lin2.stage("s", "ck") { computed = true; spark.range(0, 3).toDF() }
    assert(computed && again.count() == 3 && lin2.rowsOf("s") == Some(3L))
  }

  test("observed row count equals a read-back count behind an AQE shuffle and for empty inputs") {
    val root = tmpRoot()
    val lin = new Lineage(spark, root, "r")
    val inputs: Seq[(String, DataFrame)] = Seq(
      "shuffled" -> spark.range(0, 5000, 1, 8).groupBy(($"id" % 97).as("k")).agg(count(lit(1)).as("n")),
      "filtered_empty" -> spark.range(0, 100).filter($"id" < 0).toDF(),
      "local_empty" -> Seq.empty[(Long, String)].toDF("a", "b"))
    for ((name, df) <- inputs) {
      lin.stage(name, "ck")(df)
      assert(lin.rowsOf(name) == Some(spark.read.parquet(s"$root/$name").count()), name)
    }
    assert(lin.rowsOf("shuffled") == Some(97L) && lin.rowsOf("local_empty") == Some(0L))
  }

  test("an unreadable lineage table fails loudly instead of reading as empty") {
    val root = tmpRoot()
    new Lineage(spark, root, "r").stage("s", "ck")(spark.range(0, 10).toDF())
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/_lineage/part-99999-corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception](new Lineage(spark, root, "r2"))
  }
}
