package graft.streaming

import graft.rdf.MemGraph
import graft.shacl.{ValidationOptions, Validator}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental SHACL validation over Structured Streaming — forward-looking
  * like EventStream (the reference is strictly batch): each micro-batch of
  * (s,p,o) term-struct triples validates through the at-scale path
  * (distributed counts, no driver collect) and the per-batch outcome is
  * handed to the caller.
  *
  * Semantics: this is "validate what arrived" — constraints whose truth
  * depends on the whole graph (sh:minCount across batches, sh:closed,
  * closure paths) are evaluated within each batch. Row-local constraint
  * sets (datatype/pattern/nodeKind/in/range over targetSubjectsOf targets)
  * are exactly equivalent to a batch run over the union; for global
  * constraints, run a periodic full validation over the accumulated
  * TripleStore instead. */
object StreamingValidation {

  final case class BatchReport(
    batchId: Long,
    conforms: Boolean,
    totalViolations: Long,
    countsByComponent: Map[String, Long])

  /** Start a streaming validation over a parquet directory of triple
    * files; `onBatch` fires per micro-batch with the outcome. */
  def validateParquetStream(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      shapesGraph: MemGraph,
      opts: ValidationOptions = ValidationOptions(),
      maxFilesPerTrigger: Int = 1)(onBatch: BatchReport => Unit): StreamingQuery = {
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir)
    validateStream(src, shapesGraph, opts)(onBatch)
  }

  /** Attach per-batch validation to any streaming triples frame. */
  def validateStream(
      stream: DataFrame,
      shapesGraph: MemGraph,
      opts: ValidationOptions = ValidationOptions())(
      onBatch: BatchReport => Unit): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val out = Validator.validateFrameAtScale(batch.sparkSession, batch, shapesGraph, opts)
        // free the batch's engine checkpoints and stored violations, or
        // every micro-batch pins its blocks for the life of the stream
        try onBatch(BatchReport(id, out.conforms, out.totalViolations, out.countsByComponent))
        finally out.release()
      }
      .start()
}
