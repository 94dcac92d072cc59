package graft.shacl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.LogicalRDD

/** The one semi-naive closure kernel behind the frontier closures:
  * property-path closures ([[PathEval]]) and the registry's `q_closure`;
  * and [[absorb]], the one naive fixpoint step behind the SHACL-AF rule
  * loop ([[RulesEngine.expand]]) and the OWL-RL fixpoint, whose rounds
  * absorb every rule's rows, prp-trp and sameAs replication included
  * ([[OwlRlInference.expand]]).
  *
  * Each batch chains [[Unroll]] applications of `step` lazily from the
  * frontier, subtracts everything reached so far once, at the batch
  * boundary, and stores the new rows behind a lazy `localCheckpoint`: the
  * count that ends the batch is its only action. (Under AQE, which every
  * session of this project enables, the checkpoint call already runs the
  * batch's shuffle-map stages as jobs; the count runs the final stage.)
  * The next frontier is the whole batch, a superset of the deepest step's
  * rows, so after k full batches exactly the rows within k * Unroll steps
  * of the seed are reached.
  * `reached` is a union of checkpointed batches and needs no checkpoint of
  * its own. */
object Closure {

  /** Steps chained per batch: the per-batch job latency, not the data,
    * dominates a driver-orchestrated fixpoint. */
  private val Unroll = 4

  /** Everything reachable from `seed` by repeated `step(frontier, reached)`,
    * seed included. `reached` stays fixed within a batch (the rows reached
    * before it); a step that joins its frontier with `reached` instead of a
    * base relation grows its reach geometrically: each step adds the reach
    * of the batch start, so one batch multiplies it by Unroll + 1. Returns
    * the complete closure when it takes at most `cap` steps and throws
    * [[ReportableError]] naming `label` otherwise. `track` sees every
    * checkpoint minted, so an owner can free them later. */
  def apply(seed: DataFrame, cap: Int, label: String,
            track: DataFrame => DataFrame = identity)(
      step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val cols = seed.columns.toSeq
    var reached = track(seed.localCheckpoint(false))
    var frontier = reached
    var depth = 0
    var grew = true
    while (grew) {
      // at the cap, a single further step only checks that nothing is left
      val steps = math.min(Unroll, math.max(cap - depth, 1))
      val before = reached
      val batch = track(Iterator.iterate(frontier)(step(_, before)).slice(1, steps + 1)
        .reduce(_ unionByName _).distinct().join(before, cols, "left_anti").localCheckpoint(false))
      grew = batch.count() > 0
      if (grew) {
        depth += steps
        if (depth > cap)
          throw new ReportableError(
            s"$label did not close within $cap steps; the closure would be incomplete.")
        reached = reached.unionByName(batch)
      }
      frontier = batch
    }
    reached
  }

  /** Grow `graph`, a checkpoint, by the rows of `derived` it lacks
    * (duplicates in `derived` count once; `graph`'s own rows are kept as
    * they are). The new rows sit behind a lazy `localCheckpoint` whose
    * count is its only action (under AQE the checkpoint call already runs
    * the distinct and anti-join shuffles as jobs; the count runs the final
    * stage); when there are any, the grown graph is merged back to
    * `graph`'s partition count (two at least), so a fixpoint's rounds do
    * not pile up partitions, checkpointed eagerly, and `graph`'s
    * checkpoint is freed.
    * Returns the graph to continue with and the number of rows added. */
  def absorb(graph: DataFrame, derived: DataFrame): (DataFrame, Long) = {
    val cols = graph.columns.toSeq
    def prefixed(df: DataFrame, pre: String) = df.select(cols.map(c => col(c).as(pre + c)): _*)
    // the new rows get column ids of their own (renamed across the join):
    // sharing graph's ids, the union below would re-instance their
    // checkpoint, whose constraints Spark then fails to re-map when a column's
    // nested nullability differs between the two
    val fresh = prefixed(derived, "_d").distinct()
      .join(prefixed(graph, "_g"), cols.map(c => col("_d" + c) === col("_g" + c)).reduce(_ && _),
        "left_anti")
      .toDF(cols: _*).localCheckpoint(false)
    val n = fresh.count()
    val grown = if (n == 0) graph else {
      // at least two: a one-partition checkpoint plans as SinglePartition,
      // under which the rule loop's lazily checkpointed rule products ran
      // half again as many jobs (57 against 37 on perfbench's `shacl`)
      val parts = math.max(graph.rdd.getNumPartitions, 2)
      val g = graph.unionByName(fresh).coalesce(parts).localCheckpoint()
      free(graph)
      g
    }
    free(fresh)
    (grown, n)
  }

  /** The driver-side closure for small in-memory graphs (schema
    * hierarchies, sameAs clusters): every node reachable from `starts`,
    * the starts included. */
  def reach[A](starts: Iterable[A], succ: A => Iterable[A]): Set[A] = {
    val seen = scala.collection.mutable.Set.empty[A]
    var frontier = starts.filter(seen.add).toList
    while (frontier.nonEmpty) frontier = frontier.flatMap(succ).filter(seen.add)
    seen.toSet
  }

  /** Unpersist the checkpoint RDD behind `df`; a no-op for other frames. */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }
      .foreach(r => try r.unpersist(blocking = false) catch { case _: Throwable => () })
}
