package graft.kg

import org.apache.spark.sql.{DataFrame, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Checkpoint-resume bookkeeping: each pipeline stage persists its output
  * to `<root>/<stage>/` plus a row in the lineage table
  * (runId, stage, status, rowsOut, inputChecksum, updatedAt) and per-stage
  * metrics. On restart, a stage whose lineage row is `done` with an
  * identical input checksum is *not* recomputed — its persisted output is
  * read back (per-partition skipping falls out of the stage granularity +
  * parquet partition layout). FIXTURES.md §5 shape.
  * A handle reads the lineage table once, when created, and [[append]]
  * updates that copy after its durable write (the commit point). Assumes
  * one run writes a given root at a time: other handles' later appends go unseen.
  */
final case class LineageEntry(runId: String, stage: String, status: String,
                              rowsOut: Long, inputChecksum: String, updatedAt: Long)

final class Lineage(spark: SparkSession, root: String, runId: String) {
  import spark.implicits._
  private val lineagePath = s"$root/_lineage"
  private val metricsPath = s"$root/_metrics"

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** ONLY a missing table reads as empty: reading a corrupt file or an IO
    * failure as "nothing done" would silently recompute every stage. */
  private def readLineage(): Seq[LineageEntry] =
    if (!exists(lineagePath)) Nil
    else spark.read.schema(Encoders.product[LineageEntry].schema).parquet(lineagePath)
      .as[LineageEntry].collect().toSeq

  /** Latest done entry per stage wins. */
  private val done: mutable.Map[String, LineageEntry] = mutable.Map.from(
    readLineage().filter(_.status == "done").sortBy(_.updatedAt).map(e => e.stage -> e))

  private def append(stage: String, rows: Long, inputChecksum: String): Unit = {
    val e = LineageEntry(runId, stage, "done", rows, inputChecksum, System.currentTimeMillis())
    Seq(e).toDF().write.mode(SaveMode.Append).parquet(lineagePath)
    done(stage) = e
  }

  def metric(stage: String, name: String, value: Double): Unit = metrics(stage, name -> value)

  /** Several metrics of one stage as ONE append (one small write job). */
  def metrics(stage: String, values: (String, Double)*): Unit = {
    val now = System.currentTimeMillis()
    values.map { case (name, value) => (runId, stage, name, value, now) }
      .toDF("runId", "stage", "metric", "value", "recordedAt")
      .write.mode(SaveMode.Append).parquet(metricsPath)
  }

  def metrics(): DataFrame = spark.read.parquet(metricsPath)
  def entries(): DataFrame = spark.read.parquet(lineagePath)

  /** Row count the lineage recorded for a completed stage — lets callers
    * reuse an already-paid count instead of re-running the stage plan. */
  def rowsOf(stage: String): Option[Long] = done.get(stage).map(_.rowsOut)

  /** Whether a stage is already complete for this input — lets callers
    * gate their own side metrics so a resume doesn't re-append them. */
  def isDone(stage: String, inputChecksum: String): Boolean =
    done.get(stage).exists(_.inputChecksum == inputChecksum)

  /** Run a side-effecting step at most once per input checksum (e.g. a
    * store snapshot commit); replays are skipped on resume. */
  def marker(name: String, inputChecksum: String)(action: => Long): Unit =
    if (isDone(name, inputChecksum)) metric(name, "resumed", 1.0)
    else append(name, action, inputChecksum)

  /** Run (or resume) a stage: skip compute when a done entry with the same
    * input checksum exists and the output is there (only a missing output
    * recomputes). Computing costs the write job (its row count observed in
    * it), the lineage append and one metrics append, `extraMetrics` too. */
  def stage(name: String, inputChecksum: String,
            extraMetrics: Long => Seq[(String, Double)] = _ => Nil)
           (compute: => DataFrame): DataFrame = {
    val outPath = s"$root/$name"
    if (isDone(name, inputChecksum) && exists(outPath)) {
      val df = spark.read.parquet(outPath)
      metric(name, "resumed", 1.0)
      return df
    }
    val t0 = System.nanoTime()
    val df = compute
    val observed = Observation()
    df.observe(observed, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    val rows = observed.get("rows").asInstanceOf[Long]
    append(name, rows, inputChecksum)
    metrics(name, Seq("rowsOut" -> rows.toDouble,
      "seconds" -> (System.nanoTime() - t0) / 1e9) ++ extraMetrics(rows): _*)
    spark.read.schema(df.schema).parquet(outPath) // no footer-inference job
  }
}
