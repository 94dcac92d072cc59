package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  test("streaming windowed counts equal the batch transform") {
    // FileStreamSource needs a directory, not a single parquet file
    val tmp = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      tmp.resolve("part-0.parquet"))
    val q = EventStream.runFromParquet(spark, tmp.toString, "ws_counts")
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ws_counts")
      .select($"w_start", $"event_type", $"n").as[(java.sql.Timestamp, String, Long)]
      .collect().toSet
    val batch = EventStream.windowedCounts(spark.read.parquet(s"$dir/events.parquet"))
      .select($"w_start", $"event_type", $"n").as[(java.sql.Timestamp, String, Long)]
      .collect().toSet
    // append-mode emits only watermark-closed windows: subset of batch, and
    // every emitted window must agree exactly with the batch computation
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch), s"streamed rows disagree with batch: ${streamed.diff(batch).take(3)}")
  }

  test("stateful per-user activity counts match groupBy") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val got = EventStream.userActivity(spark, events)
      .collect().map(u => u.user_id -> u.events).toMap
    val exp = events.groupBy($"user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exp)
  }

  test("streaming dedup: first doc per fingerprint within the watermark; state bounded") {
    // doc stream with planted duplicates (same text, later ts)
    val tmp = java.nio.file.Files.createTempDirectory("docs-stream")
    val docs = spark.range(0, 300).select(
      $"id".as("doc_id"),
      // 100 distinct texts, each appearing 3x
      concat(lit("the quick brown document number "), ($"id" % 100).cast("string")).as("text"),
      to_timestamp(lit("2026-01-01 00:00:00")).plus(
        expr("make_interval(0, 0, 0, 0, 0, 0, id)")).as("ts"))
    docs.coalesce(1).write.parquet(tmp.resolve("in").toString)
    val sub = new java.io.File(tmp.resolve("in").toString)
    sub.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.move(f.toPath, tmp.resolve("part-0.parquet"))
    }
    val schema = spark.read.parquet(tmp.resolve("part-0.parquet").toString).schema
    val src = spark.readStream.schema(schema).parquet(tmp.toString)
    val q = EventStream.dedupDocs(src).writeStream
      .outputMode("append").format("memory").queryName("dedup_docs")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_docs")
    assert(streamed.count() == 100)
    // streamed fingerprint set equals the batch dedup's
    val batchFps = EventStream.dedupDocs(spark.read.parquet(tmp.resolve("part-0.parquet").toString))
      .select($"fp").as[String].collect().toSet
    assert(streamed.select($"fp").as[String].collect().toSet == batchFps)
  }

  test("streaming triple-store sink: one snapshot per batch, idempotent on redelivery") {
    import graft.kg.TripleStore
    val tmp = java.nio.file.Files.createTempDirectory("ts-sink")
    val in = tmp.resolve("in"); java.nio.file.Files.createDirectory(in)
    // two files -> two micro-batches under maxFilesPerTrigger=1
    spark.range(0, 10).select(concat(lit("e:"), $"id").as("s"),
      lit("http://kg#label").as("p"), concat(lit("L"), $"id").as("o"))
      .coalesce(1).write.parquet(in.resolve("f1").toString)
    spark.range(10, 15).select(concat(lit("e:"), $"id").as("s"),
      lit("http://kg#type").as("p"), lit("T").as("o"))
      .coalesce(1).write.parquet(in.resolve("f2").toString)
    val store = new TripleStore(spark, tmp.resolve("store").toString)
    val schema = spark.read.option("recursiveFileLookup", "true").parquet(in.toString).schema
    val src = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", "1")
      .parquet(in.toString)
    val q = TripleStoreSink.append(store, src, tmp.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    assert(store.read().count() == 15)
    assert(store.snapshots().size == 2) // one snapshot per micro-batch
    // redelivery of an already-committed batch id is a no-op
    val again = store.appendBatch(
      spark.range(0, 10).select(concat(lit("e:"), $"id").as("s"),
        lit("http://kg#label").as("p"), concat(lit("L"), $"id").as("o")), 0L)
    assert(again.isEmpty)
    assert(store.read().count() == 15)
    // predicate partition pruning still drives lookups on streamed data
    assert(store.scanPredicate("http://kg#type").count() == 5)
  }

  test("streaming SHACL validation: per-batch violation counts sum to the batch run") {
    import graft.rdf._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // three parquet files of row-local triples: (doc, ex:score, lit) where
    // some scores are non-numeric -> sh:datatype violations, batch-local
    def iriT(c: org.apache.spark.sql.Column) =
      struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    def litT(c: org.apache.spark.sql.Column, dt: String) =
      struct(c.as("v"), lit(2.toByte).as("k"), lit(dt).as("dt"), lit("").as("lang"))
    val dir = java.nio.file.Files.createTempDirectory("svalid")
    val xsdInt = "http://www.w3.org/2001/XMLSchema#integer"
    for (part <- 0 until 3) {
      spark.range(part * 100, (part + 1) * 100).select(
        iriT(concat(lit("http://ex/d"), $"id")).as("s"),
        lit("http://ex/score").as("p"),
        // every 10th value is ill-typed for xsd:integer
        litT(when($"id" % 10 === 0, concat(lit("bad"), $"id"))
          .otherwise($"id".cast("string")), xsdInt).as("o"))
        .coalesce(1).write.parquet(s"$dir/p$part")
      // flatten: move part files up so the stream source sees one dir
      val sub = new java.io.File(s"$dir/p$part")
      sub.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/part-$part.parquet"))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(sub)
    }
    val shapes = TurtleParser.parseGraph(
      """@prefix sh: <http://www.w3.org/ns/shacl#> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |@prefix ex: <http://ex/> .
        |ex:S a sh:NodeShape ; sh:targetSubjectsOf ex:score ;
        |  sh:property [ sh:path ex:score ; sh:datatype xsd:integer ] .
        |""".stripMargin, "http://test/")
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[StreamingValidation.BatchReport]()
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    val q = StreamingValidation.validateParquetStream(spark, dir.toString, shapes)(reports.add(_))
    q.awaitTermination(120000)
    // each micro-batch frees its engine checkpoints and stored violations
    assert(spark.sparkContext.getPersistentRDDs.size <= pinnedBefore)
    import scala.jdk.CollectionConverters._
    val rs = reports.asScala.toList
    assert(rs.size == 3, s"expected 3 micro-batches, got ${rs.size}")
    assert(rs.forall(!_.conforms))
    val streamTotal = rs.map(_.totalViolations).sum
    // batch run over the union must agree (row-local constraints)
    val batchOut = graft.shacl.Validator.validateFrameAtScale(spark,
      spark.read.parquet(dir.toString), shapes)
    assert(streamTotal == batchOut.totalViolations)
    assert(streamTotal == 30)
    batchOut.release()
  }
}
