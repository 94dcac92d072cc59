package graft.kg

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-shaped partitioned triple store over parquet (no Iceberg jars
  * ship with this image — SURVEY §7): snapshot ids, append /
  * overwrite-by-partition, predicate partition spec, snapshot read
  * (time-travel-lite), and a snapshot log. At 100 TB the predicate
  * partitioning means every SHACL target/path/constraint filter on `p`
  * prunes whole directories before any row is read.
  *
  * Layout:
  *   root/data/p_part=<pred>/snap=<id>/part-*.parquet
  *   root/_snapshots/  (snapshot log: id, op, ts, rows)
  */
final class TripleStore(spark: SparkSession, root: String) {
  import spark.implicits._
  import TripleStore.partName
  private val dataPath = s"$root/data"
  private val snapPath = s"$root/_snapshots"
  // partition-name format marker: v2 = the "([^#/]+)[#/]*$" extraction
  // (predicates with '-' or urn: IRIs partition under their local form).
  // Stores written before this marker existed used a narrower regex whose
  // names disagree for those predicates — reading them with v2 lookups
  // would silently miss data, so open fails loudly instead.
  private val formatMarker = s"$root/_format_v${TripleStore.FormatVersion}"

  private def hfs(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def snapLogExists(): Boolean = {
    val (p, fs) = hfs(snapPath)
    fs.exists(p)
  }

  private def ensureFormatMarker(): Unit = {
    val (p, fs) = hfs(formatMarker)
    if (!fs.exists(p)) fs.create(p, true).close()
  }

  /** Refuse to touch a store whose partition names disagree with the
    * current scheme. A missing marker does NOT necessarily mean an old
    * scheme (stores written by v2 code just before the marker landed are
    * fine) — so first VERIFY: scan the store's actual (p_part, p) pairs
    * against partName(p); if every pair agrees, adopt the store by writing
    * the marker; only a real disagreement fails, and the error names the
    * offending predicates. Cost note: the verification scan reads the
    * store's whole `p` column once (the distinct is catalog-scale — a
    * bounded predicate vocabulary — but the scan feeding it is a full
    * column read); it runs AT MOST ONCE per store lifetime, since a
    * successful verify writes the marker. */
  private def checkFormat(): Unit = {
    if (!snapLogExists()) return // empty/new store: nothing to disagree with
    val (p, fs) = hfs(formatMarker)
    if (fs.exists(p)) return
    val (d, dfs) = hfs(dataPath)
    if (!dfs.exists(d)) { ensureFormatMarker(); return } // log but no data yet
    // data/ may exist but hold no readable parquet (a first append of an
    // empty frame, or cleaned-up leftovers): Spark throws an opaque
    // "Unable to infer schema" — nothing to disagree with, so adopt.
    // AnalysisException also covers corrupt footers / conflicting schema
    // merges, where adoption would silently skip verification forever —
    // so adopt ONLY when the data dir truly holds no parquet files, and
    // rethrow otherwise.
    def hasParquetFiles: Boolean = {
      val it = dfs.listFiles(d, true)
      var found = false
      while (!found && it.hasNext) {
        val name = it.next().getPath.getName
        found = name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")
      }
      found
    }
    val frame =
      try Some(spark.read.parquet(dataPath))
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          if (hasParquetFiles) throw e // real data the reader can't analyze
          None
      }
    val df = frame match {
      case None => ensureFormatMarker(); return
      case Some(df) if !df.schema.fieldNames.contains("p_part") =>
        throw new IllegalStateException(
          s"TripleStore at $root has a data dir without a p_part partition " +
            "column — not a store this version can adopt. Re-export and " +
            "rewrite into a fresh store.")
      case Some(df) => df // reuse: a second read would re-list + re-infer
    }
    val mismatched = df
      // cast defends against partition-type inference: all-numeric p_part
      // values read back as ints and the typed select would throw
      .select($"p_part".cast("string").as("p_part"), $"p").distinct()
      .as[(String, String)].collect()
      .collect { case (pp, pred) if pp != partName(pred) => s"$pred (stored $pp)" }
    if (mismatched.nonEmpty)
      throw new IllegalStateException(
        s"TripleStore at $root was written under an older partition-name " +
          s"scheme: ${mismatched.take(5).mkString(", ")}" +
          (if (mismatched.length > 5) s" and ${mismatched.length - 5} more" else "") +
          " disagree with the v" + TripleStore.FormatVersion + " partName. " +
          "Re-export and rewrite (read old data via spark.read.parquet + " +
          "exportNTriples, then append into a fresh store).")
    ensureFormatMarker() // verified adoption: existing names all agree
  }

  private type LogRow = (Long, String, Long, Long)

  /** Snapshot log, sorted by id. ONLY a missing log reads as empty — any
    * other failure (throttling, transient IO) must surface, because "no
    * snapshots" would reuse snapshot id 1 and corrupt history. Read once per
    * call, never cached, so each call sees other writers' commits. */
  private def log(): Seq[LogRow] =
    if (!snapLogExists()) Nil
    else spark.read.schema("snapshot_id BIGINT, op STRING, committed_at BIGINT, rows BIGINT")
      .parquet(snapPath).as[LogRow].collect().toSeq.sortBy(_._1)

  private def latest(l: Seq[LogRow]): Long = l.lastOption.fold(0L)(_._1)

  def snapshots(): Seq[Long] = log().map(_._1)
  def currentSnapshot(): Option[Long] = log().lastOption.map(_._1)

  private def appendLog(id: Long, op: String, rows: Long): Unit =
    Seq((id, op, System.currentTimeMillis(), rows))
      .toDF("snapshot_id", "op", "committed_at", "rows")
      .write.mode(SaveMode.Append).parquet(snapPath)

  /** Partition value: predicate local name (bounded vocabulary). The
    * column expression MUST agree with [[TripleStore.partName]] — a
    * mismatch stores rows under one partition name and looks them up
    * under another (silently unreadable data). */
  private def withPart(df: DataFrame): DataFrame =
    df.withColumn("p_part", regexp_extract(col("p"), "([^#/]+)[#/]*$", 1))

  /** Remove data directories for snapshot ids at/above the next id — the
    * leftovers of a write that crashed before its log append (the log
    * append is the COMMIT POINT; data files alone are invisible until
    * logged, but a retry under the same id would otherwise double its
    * rows via SaveMode.Append). */
  private def cleanUncommitted(nextId: Long): Unit = {
    val (root, fs) = hfs(dataPath)
    if (!fs.exists(root)) return
    for (pDir <- fs.listStatus(root).toSeq if pDir.isDirectory;
         sDir <- fs.listStatus(pDir.getPath).toSeq if sDir.isDirectory) {
      val name = sDir.getPath.getName
      if (name.startsWith("snap=") &&
          name.stripPrefix("snap=").toLongOption.exists(_ >= nextId))
        fs.delete(sDir.getPath, true)
    }
  }

  /** The logged row count is observed inside the write job (re-counting
    * the input would re-run its plan; scanning the new files, one more job). */
  private def commitSnapshot(df: DataFrame, op: String, l: Seq[LogRow] = log()): Long = {
    checkFormat(); ensureFormatMarker()
    val id = latest(l) + 1L
    cleanUncommitted(id)
    val written = Observation()
    withPart(df).withColumn("snap", lit(id)).observe(written, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Append).partitionBy("p_part", "snap").parquet(dataPath)
    appendLog(id, op, written.get("rows").asInstanceOf[Long])
    id
  }

  /** Append (s,p,o) rows as a new snapshot. */
  def append(df: DataFrame): Long = commitSnapshot(df, "append")

  /** Idempotent per-micro-batch append for Structured Streaming sinks:
    * the batch commits as ONE snapshot tagged `stream:<batchId>`; a batch
    * id already in the log is skipped (foreachBatch re-delivers the last
    * uncommitted batch after a restart — without the tag check every
    * recovery would duplicate its rows). Returns the snapshot id, or None
    * when the batch was already committed. */
  def appendBatch(df: DataFrame, batchId: Long): Option[Long] = {
    val l = log()
    if (l.exists(_._2 == s"stream:$batchId")) None
    else Some(commitSnapshot(df, s"stream:$batchId", l))
  }

  /** Overwrite the given predicate partitions with `df` (other partitions
    * untouched) — Iceberg's overwrite-by-partition-expression. The new
    * snapshot's files are written FIRST; superseded files stay on disk and
    * are masked out at read time by the snapshot log (so a df derived from
    * reading this same store — the normal read-transform-overwrite loop —
    * still scans intact inputs, and readAt time travel keeps working).
    * Physical deletion is a separate, explicit vacuum(). */
  def overwritePartitions(df: DataFrame, preds: Seq[String]): Long =
    overwriteParts(df, preds.map(partName))

  private def overwriteParts(df: DataFrame, parts: Seq[String]): Long =
    commitSnapshot(withPart(df).filter(col("p_part").isin(parts: _*)).drop("p_part"),
      s"overwrite:${parts.mkString(",")}")

  /** Live parquet file count per partition (scan-planning cost proxy). */
  def liveFileCounts(): Map[String, Int] = {
    val atId = currentSnapshot().getOrElse(return Map.empty)
    val over = overwrittenAt(atId)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dataPath)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Map.empty
    (for {
      pDir <- fs.listStatus(root).toSeq if pDir.isDirectory &&
        pDir.getPath.getName.startsWith("p_part=")
      pp = pDir.getPath.getName.stripPrefix("p_part=")
      dead = over.getOrElse(pp, 0L)
      sDir <- fs.listStatus(pDir.getPath).toSeq if sDir.isDirectory
      snap <- sDir.getPath.getName.stripPrefix("snap=").toLongOption.toSeq
      if snap <= atId && snap >= dead
      f <- fs.listStatus(sDir.getPath).toSeq if f.getPath.getName.endsWith(".parquet")
    } yield pp).groupBy(identity).map { case (pp, xs) => pp -> xs.size }
  }

  /** Small-file compaction (Iceberg's rewrite_data_files): every live
    * partition holding at least `minFiles` files is rewritten into
    * ceil(rows / targetRowsPerFile) files as ONE overwrite snapshot. At
    * 100 TB a streaming/append workload fragments partitions until file
    * listing dominates scan planning; compaction restores fat scans
    * without changing table contents. Superseded files stay readable for
    * time travel until vacuum(), like any other overwrite. Returns the
    * new snapshot id, or None when nothing crosses the threshold. */
  def compact(targetRowsPerFile: Long = 4000000L, minFiles: Int = 2): Option[Long] = {
    val snap = currentSnapshot().getOrElse(return None)
    val parts = liveFileCounts().filter(_._2 >= minFiles).keys.toSeq.sorted
    if (parts.isEmpty) return None
    val live = liveAt(Some(snap))
    val counts = live.filter(col("p_part").isin(parts: _*))
      .groupBy($"p_part").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect()
    if (counts.isEmpty) return None
    val legs = counts.map { case (pp, n) =>
      val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      live.filter($"p_part" === pp).drop("snap", "p_part").repartition(files)
    }
    Some(overwriteParts(legs.reduce(_ unionByName _), counts.map(_._1).toSeq))
  }

  /** Latest overwrite snapshot per partition at or before `atId`:
    * rows of that partition from earlier snapshots are dead. */
  private def overwrittenAt(atId: Long, l: Seq[LogRow] = log()): Map[String, Long] =
    l.filter(_._1 <= atId).flatMap { case (id, op, _, _) =>
      if (op.startsWith("overwrite:"))
        op.stripPrefix("overwrite:").split(",").filter(_.nonEmpty).map(_ -> id)
      else Nil
    }.groupBy(_._1).map { case (pp, xs) => pp -> xs.map(_._2).max }

  /** Live rows at `atId`, or at the latest snapshot when it is None. */
  private def liveAt(atId: Option[Long], l: Seq[LogRow] = log()): DataFrame = {
    checkFormat()
    if (l.isEmpty)
      throw new IllegalStateException(
        s"TripleStore at $root has no committed snapshots (probe with currentSnapshot())")
    val at = atId.getOrElse(latest(l))
    val base = spark.read.parquet(dataPath).filter(col("snap") <= at)
    overwrittenAt(at, l).map { case (pp, oid) =>
      col("p_part") === pp && col("snap") < oid
    }.reduceOption(_ || _) match {
      case Some(dead) => base.filter(!dead)
      case None => base
    }
  }

  /** Read the current table (only live rows: superseded partition
    * snapshots are masked by the log, not physically deleted). */
  def read(): DataFrame = liveAt(None).drop("snap", "p_part")

  /** Snapshot read (time travel): the table exactly as of snapshot `id`. */
  def readAt(id: Long): DataFrame = liveAt(Some(id)).drop("snap", "p_part")

  /** Predicate-pruned scan — the hot path for SHACL targets/paths: the
    * filter lands on the partition column, so only matching directories
    * are listed/read. */
  def scanPredicate(pred: String): DataFrame = {
    val pp = partName(pred)
    liveAt(None)
      .filter(col("p_part") === pp && col("p") === pred)
      .drop("snap", "p_part")
  }

  /** Distributed N-Triples export of the live table (text shards via
    * codegen'd term rendering — no driver serialize at any scale).
    * Term-struct frames render exactly; the KG pipeline's plain-string
    * schema renders s/p as IRIs and o as an IRI when it carries a scheme,
    * a quoted literal otherwise. */
  def exportNTriples(path: String): Unit = {
    import org.apache.spark.sql.types.StructType
    val df = read()
    df.schema("s").dataType match {
      case _: StructType => graft.rdf.TriplesDF.writeNTriples(df, path)
      case _ =>
        val oTok = when(col("o").rlike("^[A-Za-z][A-Za-z0-9+.-]*://"),
          concat(lit("<"), col("o"), lit(">")))
          .otherwise(concat(lit("\""), graft.rdf.TriplesDF.ntEscape(col("o")), lit("\"")))
        df.select(concat(lit("<"), col("s"), lit("> <"), col("p"), lit("> "),
          oTok, lit(" .")).as("value")).write.mode(SaveMode.Overwrite).text(path)
    }
  }

  /** Physically delete files superseded by partition overwrites. Goes
    * through Hadoop FileSystem, so it works on HDFS/S3A as well as file://
    * (java.nio would be local-only). Time travel before the earliest
    * surviving snapshot of an overwritten partition stops working — that is
    * the usual Iceberg expire-snapshots trade-off. */
  def vacuum(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dataPath)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return
    for ((pp, oid) <- overwrittenAt(currentSnapshot().getOrElse(0L))) {
      val partDir = new org.apache.hadoop.fs.Path(root, s"p_part=$pp")
      if (fs.exists(partDir)) {
        for (st <- fs.listStatus(partDir) if st.isDirectory) {
          val name = st.getPath.getName // snap=<id>
          if (name.startsWith("snap=") &&
              name.stripPrefix("snap=").toLongOption.exists(_ < oid))
            fs.delete(st.getPath, true)
        }
      }
    }
  }
}

object TripleStore {
  /** Partition-name scheme version; bumped whenever partName/withPart
    * change how p_part values are derived. */
  val FormatVersion = 2

  /** Predicate IRI -> partition local name: the segment after the last
    * '#' or '/' (ignoring trailing separators); IRIs with neither (urn:)
    * partition under their full form. Mirrors the withPart column
    * expression `regexp_extract(p, "([^#/]+)[#/]*$", 1)` exactly — both
    * sides of the store must derive partition names identically. */
  def partName(pred: String): String = {
    val t = pred.reverse.dropWhile(c => c == '#' || c == '/').reverse
    val i = t.lastIndexWhere(c => c == '#' || c == '/')
    if (i < 0) t else t.substring(i + 1)
  }
}
