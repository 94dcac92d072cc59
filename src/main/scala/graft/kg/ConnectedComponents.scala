package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over an edge DataFrame (src: long, dst: long) via
  * alternating large-star / small-star joins (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14) — the standard
  * GraphFrames-style formulation the north rule asks for, expressed as
  * DataFrame joins so Catalyst/AQE handle the physical plan.
  *
  * Skew: high-degree entities (Zipf head) concentrate on few keys; AQE
  * skew-join splitting handles the join stage, and the star operations
  * themselves cap per-key fan-in by replacing neighbourhoods with
  * min-pointers each round (that is *why* star ops beat naive label
  * propagation at scale). Lineage is truncated per iteration with
  * localCheckpoint.
  *
  * Returns (id, component) with component = min id of the component.
  */
object ConnectedComponents {

  def run(spark: SparkSession, edges0: DataFrame, maxIter: Int = 50): DataFrame = {
    import spark.implicits._
    val edges = converge(spark, edges0, maxIter)
    // final edge set is (component-min, member); add singleton roots
    val members = edges.select($"b".as("id"), $"a".as("component"))
    val roots = edges.select($"a".as("id")).distinct()
      .join(members.select($"id"), Seq("id"), "left_anti")
      .select($"id", $"id".as("component"))
    members.unionByName(roots)
  }

  /** Largest slot count of [[contractLocal]]'s map: the biggest power of
    * two a JVM array can hold. */
  private[kg] val MaxSlots = 1 << 30

  /** Slots the map needs to hold `keys` keys at a load of at most 3/4:
    * `cap`, or `cap` doubled once it is full. Long arithmetic, so no count
    * near the array limit overflows; past [[MaxSlots]] it throws. */
  private[kg] def slotsFor(keys: Int, cap: Int): Int =
    if (keys * 4L <= cap * 3L) cap
    else if (cap >= MaxSlots)
      throw new IllegalStateException(
        s"contractLocal: $keys distinct node ids in one partition exceed the " +
          s"$MaxSlots-slot map limit; repartition the edges into more partitions")
    else cap << 1

  /** Partition-local union-find contraction: replaces each partition's
    * edge set by the star edges (local-min root, member) of its LOCAL
    * components — exactly connectivity-preserving (a spanning star per
    * local component), so global CC over the union is unchanged, but the
    * edge set shrinks from |E| to at most (distinct nodes per partition)
    * and the intra-partition diameter drops to 1 before the first shuffle
    * round. On the bench entity graph (co-occurrence: 145k edges over 9.9k
    * nodes, AQE-coalesced to one partition) this IS the answer in one
    * pass and the star loop only confirms; at 100 TB each task's map is
    * bounded by the distinct node ids of one advisory-sized partition
    * (open-addressed primitive map, 16 B/slot — ~2^25 slots for a 256 MB
    * edge partition), and the star rounds then run on the contracted
    * graph (guide §1.2: algorithm before per-task work; §2.3: shuffle
    * fewer bytes). The one-pass closure is justified here the same way
    * mapPartitions UDF stages are (guide §4.2): it removes whole shuffle
    * rounds, not per-row work. Output is canonical by construction
    * (root = local component min < member) and deterministic given the
    * input partitioning; the downstream fixpoint's converged forest is
    * the unique min-forest either way, so the FINAL result is partition-
    * layout-invariant. */
  private[graft] def contractLocal(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    edges.select($"a", $"b").as[(Long, Long)].mapPartitions { it =>
      // open-addressing long->long parent map (power-of-2, linear probe);
      // grows by doubling — bounded by distinct node ids in the partition
      var cap = 1 << 12
      var keys = new Array[Long](cap); var vals = new Array[Long](cap)
      var used = new Array[Boolean](cap); var n = 0
      def idx(k: Long, c: Int, u: Array[Boolean], ks: Array[Long]): Int = {
        var i = (java.lang.Long.hashCode(k * -7046029254386353131L) & (c - 1))
        while (u(i) && ks(i) != k) i = (i + 1) & (c - 1)
        i
      }
      def grow(nc: Int): Unit = {
        val nk = new Array[Long](nc); val nv = new Array[Long](nc)
        val nu = new Array[Boolean](nc)
        var i = 0
        while (i < cap) {
          if (used(i)) { val j = idx(keys(i), nc, nu, nk); nk(j) = keys(i); nv(j) = vals(i); nu(j) = true }
          i += 1
        }
        cap = nc; keys = nk; vals = nv; used = nu
      }
      def get(k: Long): Long = { val i = idx(k, cap, used, keys); if (used(i)) vals(i) else k }
      def put(k: Long, v: Long): Unit = {
        val i = idx(k, cap, used, keys)
        if (!used(i)) {
          val nc = slotsFor(n + 1, cap)
          if (nc != cap) { grow(nc); put(k, v); return }
          keys(i) = k; used(i) = true; n += 1
        }
        vals(i) = v
      }
      def find(x0: Long): Long = {
        var x = x0
        while (get(x) != x) x = get(x)
        var y = x0
        while (get(y) != y) { val p = get(y); put(y, x); y = p }
        x
      }
      it.foreach { case (a, b) =>
        // seed both endpoints so roots enumerate in the key scan below
        if (get(a) == a) put(a, a)
        if (get(b) == b) put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) put(rb, ra) else put(ra, rb) }
      }
      // emit the stars straight from the slot scan (find only compresses
      // paths of existing keys, so the map no longer grows): no buffer
      Iterator.range(0, cap).flatMap { i =>
        if (!used(i)) None
        else { val k = keys(i); val r = find(k); if (r != k) Some((r, k)) else None }
      }
    }.toDF("a", "b")
  }

  /** The alternating-star fixpoint itself; returns the converged star
    * forest's edge set (component-min a, member b). */
  private def converge(spark: SparkSession, edges0: DataFrame,
                       maxIter: Int): DataFrame = {
    import spark.implicits._
    // undirected, self-loops dropped; canonical a<b. Checkpoints are lazy
    // throughout: the digest aggregation right below each one is the
    // action that stores the rows and reads the convergence digest, with
    // no separate eager-checkpoint pass. Under AQE (which every session
    // of this project enables) the checkpoint call itself still runs the
    // round's shuffle-map stages (distinct, groupBy, join) as jobs; only
    // the final stage waits for the digest.
    // NO edge-multiset distinct before the contraction: union-find is
    // insensitive to duplicate edges, so deduping the RAW multiset would
    // shuffle the full edge set (21.5M rows in the 150k-doc scaling run)
    // just to protect a pass that never needed it — the contraction reads
    // the upstream partitions in place (zero shuffle, and source locality
    // means a partition's docs share entities, which contracts BETTER than
    // the hash-mixed layout the distinct produced), and the only distinct
    // paid is over the tiny contracted star set (guide §2.4: remove
    // shuffles outright). That distinct dedupes members shared between
    // partitions; no checkpoint before it — the digest (or the endgame's
    // own checkpoint) materializes the whole chain once.
    val canon = edges0.select(
        least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b")
    var edges = contractLocal(spark, canon).distinct()
      .localCheckpoint(false)

    // convergence is checked via a (count, xxhash64-sum) digest — one
    // lightweight agg per NEW edge set per round; the old set's digest is
    // memoized from the previous round (it was that round's `next`), so
    // each iteration costs one digest job, not two. The digest is only
    // needed once a star round actually runs (the single-partition
    // endgame below converges by construction), so it is computed lazily.
    def digest(df: DataFrame): (Long, String) = {
      // decimal sum: exact and overflow-proof under ANSI mode
      val r = df.agg(count(lit(1)), sum(xxhash64($"a", $"b").cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }
    var edgesDigest: Option[(Long, String)] = None
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // single-partition endgame: the checkpointed frame is an ExistingRDD,
      // so the partition count is known without running a job. When AQE
      // has coalesced the (always-shrinking) edge set into ONE partition,
      // a local union-find pass over it IS the global min-forest — no
      // more rounds and no confirmation digest are needed (the star
      // fixpoint would compute exactly this forest and then spend one
      // full round proving it stable). At bench scale the init
      // contraction already lands here; at 100 TB this is the standard
      // "finish the tail locally" endgame once the contracted forest
      // drops under one advisory partition, and graphs whose forest stays
      // larger keep taking the star branch below.
      if (edges.rdd.getNumPartitions <= 1) {
        edges = contractLocal(spark, edges).localCheckpoint(false)
        converged = true
        iter += 1
      } else {
        // fused large-star + small-star round: ONE neighbor groupBy computes
        // both min aggregates (full-neighborhood min for large-star, and the
        // strictly-smaller-neighbor min small-star needs — the v < u rows of
        // nbrs ARE the old smallNbrs frame, since edges are canonical a < b)
        // and ONE join serves both stars, instead of two groupBys and two
        // joins per round. Emitted edge sets are identical to the unfused
        // form; only the physical plan shrinks (guide §2.4: shared exchange).
        val nbrs = edges.select($"a".as("u"), $"b".as("v"))
          .unionByName(edges.select($"b".as("u"), $"a".as("v")))
        val mins = nbrs.groupBy($"u").agg(
          min($"v").as("m0"),
          min(when($"v" < $"u", $"v")).as("ms"))
        // force sort-merge: both sides are already hash-partitioned by u
        // (mins IS the aggregate of the nbrs exchange), so SMJ reuses that
        // exchange and sorts — AQE's broadcast conversion would instead pay
        // a broadcast-build job EVERY round, which at bench scale costs more
        // than the sort it saves, and at real scale mins is entity-count
        // sized (not broadcastable anyway)
        val j = nbrs.join(mins.hint("shuffle_merge"), "u")
        // every joined row belongs to exactly ONE star (v > u: large-star,
        // connect v to m = min(neighborhood(u) ∪ {u}); v < u: small-star,
        // connect v to ms = min smaller neighbor, non-null whenever a v < u
        // row exists), so both stars project from j in a single conditional
        // branch — a two-branch union would re-evaluate the whole
        // nbrs/mins/join subplan per branch (union branches share no
        // subplan; the r8 job audit counted ~12 jobs per round from the
        // duplication). The small-star's own (ms, u) edges come from the
        // mins aggregate directly.
        val m = least($"u", $"m0")
        val fromJ = j.select(
          when($"v" > $"u", least($"v", m)).otherwise(least($"v", $"ms")).as("a"),
          when($"v" > $"u", greatest($"v", m)).otherwise(greatest($"v", $"ms")).as("b"))
        val next = fromJ
          .unionByName(mins.filter($"ms".isNotNull)
            .select($"ms".as("a"), $"u".as("b")))
          .filter($"a" =!= $"b")
          .distinct().localCheckpoint(false)
        // converged when the edge set is a stable star forest (a digest
        // collision is negligible and would only end the loop one round
        // early on an already-stable forest)
        if (edgesDigest.isEmpty) edgesDigest = Some(digest(edges))
        val nextDigest = digest(next)
        converged = edgesDigest.contains(nextDigest)
        edges = next
        edgesDigest = Some(nextDigest)
        iter += 1
      }
    }
    edges
  }

  /** [[run]] plus a singleton row (id, id) per vertex in no edge, for the
    * case where `vertices` covers every edge endpoint: the star forest's
    * roots and the edge-free singletons are together just "vertices that
    * are nobody's member", so ONE anti-join adds both. */
  def runWithVertices(spark: SparkSession, edges0: DataFrame,
                      vertices: DataFrame, maxIter: Int = 50): DataFrame = {
    import spark.implicits._
    val members = converge(spark, edges0, maxIter)
      .select($"b".as("id"), $"a".as("component"))
    vertices.select(col("id"))
      .join(members.select($"id"), Seq("id"), "left_anti")
      .withColumn("component", col("id"))
      .unionByName(members)
  }
}
