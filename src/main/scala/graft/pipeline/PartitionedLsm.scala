package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The log-structured storage core behind every incremental store: the
  * triple and quad graph tables ([[Materialize]]), the IVF vector index
  * ([[graft.ops.IvfStore]]) and, for its partition rewrite and fold
  * ledger, [[ViewStore]]. A store is one configuration of it: the
  * partition column, the content-key columns, the surviving-row pick and
  * the read schema are fixed per store, never per call.
  *
  * Layout under a table root `out`:
  *   - the BASE (`out`, or `out/<baseSub>`): the resolved state, parquet
  *     partitioned by `partCol`;
  *   - `_delta/`: append-only batches with the base columns plus
  *     `op` ∈ {add, del} and `batch_seq`, partitioned the same way;
  *   - `_delta_batches/`: one marker file per appended batch — the batch
  *     count and so the next `batch_seq`.
  * `_delta` is underscore-hidden, so plain parquet readers of the base
  * keep seeing the consistent last-compacted state.
  *
  * The rules, stated once for every store:
  *   - SINGLE WRITER. The marker log is the batch sequence; two concurrent
  *     appenders would reuse a `batch_seq`. Concurrent writers need a real
  *     table format's commit protocol.
  *   - LATEST BATCH WINS. Base rows are implicitly (add, 0). Per content
  *     key, an add survives iff it is strictly newer than the key's latest
  *     delete; the survivors collapse to one row through the store's pick
  *     (min provenance for graphs, the newest vector for IVF).
  *   - DELETE WINS WITHIN ITS BATCH: a batch retracts before it asserts.
  *     Callers needing insert-after-delete in one batch (SPARQL
  *     DELETE/INSERT) subtract the overlap before appending.
  *   - BOUNDED MERGE-ON-READ. Only partitions some pending batch touches
  *     pay the resolution exchange; the untouched base streams as a pruned
  *     scan with no Exchange. The touched set is bounded by the partition
  *     count, never by data. An as-of cut resolves only batches ≤ the cut.
  *   - COMPACTION CONSUMES AS-OF HISTORY. It rewrites the touched
  *     partitions to the resolved state (dynamic overwrite) and drops the
  *     log; the rewritten base is the new seq 0, so every earlier cut reads
  *     the compacted state — the lakehouse retention trade-off.
  *   - EMPTIED PARTITIONS ARE DELETED. Dynamic overwrite replaces only
  *     partitions present in the written rows, so a touched partition whose
  *     rows all resolved away would keep its stale files (and resurrect its
  *     retractions once the log is dropped). [[PartitionedLsm.rewritePartitions]]
  *     observes the surviving set during the write and deletes the rest.
  *   - EXPLICIT READ SCHEMA. Base and log are read with the store's schema,
  *     so a table whose every row was retracted reads as an empty frame
  *     instead of failing schema inference, and takes later appends.
  *   - LOCAL CHECKPOINTS rely on the ContextCleaner. Compaction (and the
  *     view folds) stage their result through a [[CheckpointPolicy]] before
  *     overwriting their own input. Under `Local` the staged blocks are freed
  *     only when the staged Dataset is garbage-collected; a long-running
  *     merge loop should pass `Reliable(dir)` and prune `dir` itself.
  *     Run dynamic overwrite under the default (v1) file output committer.
  */
final class PartitionedLsm(
    partCol: String,
    val keyCols: Seq[String],
    pick: Column,
    schema: StructType,
    baseSub: String = "") {
  import PartitionedLsm._

  /** Base columns other than the partition column, in schema order. */
  val dataCols: Seq[String] = schema.fieldNames.toSeq.filterNot(_ == partCol)
  private val payloadCols = dataCols.filterNot(keyCols.contains)
  private val opCols = dataCols ++ Seq("op", "batch_seq", partCol)
  private val deltaSchema = StructType(schema.filterNot(_.name == partCol))
    .add("op", StringType).add("batch_seq", LongType).add(schema(partCol))

  def baseDir(out: String): String = if (baseSub.isEmpty) out else s"$out/$baseSub"
  private def deltaDir(out: String) = s"$out/_delta"
  private def markerDir(out: String) = s"$out/_delta_batches"

  private def readBase(spark: SparkSession, out: String): DataFrame =
    spark.read.schema(schema).parquet(baseDir(out))

  private def readDelta(spark: SparkSession, out: String): DataFrame =
    spark.read.schema(deltaSchema).parquet(deltaDir(out))

  /** Pending batches exist: the log dir holds at least one data file (an
    * empty append leaves at most `_SUCCESS`).
    */
  private def pending(spark: SparkSession, out: String): Boolean = {
    val (fs, dd) = fsOf(spark, deltaDir(out))
    fs.exists(dd) && hasDataFiles(fs, dd)
  }

  /** Batches appended since the last compaction. */
  def batchCount(spark: SparkSession, out: String): Int =
    markerCount(spark, markerDir(out))

  /** Append one batch: `rows` carry [[dataCols]], `op` and `partCol`;
    * the batch gets the next `batch_seq`. The row count rides the write
    * as an observed metric (never an isEmpty pre-check, which would
    * evaluate the caller's subtree twice); an empty batch is an exact
    * no-op — no data files, no marker, no `_delta` dir of its own.
    */
  def append(spark: SparkSession, out: String, rows: DataFrame): Unit = {
    val seq = batchCount(spark, out) + 1L
    val obs = new Observation(s"lsm.append.${java.util.UUID.randomUUID()}")
    rows.select(dataCols.map(col) ++ Seq(col("op"), lit(seq).as("batch_seq"), col(partCol)): _*)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("append").partitionBy(partCol).parquet(deltaDir(out))
    if (obs.get("n").asInstanceOf[Long] > 0L) addMarker(spark, markerDir(out))
    else {
      val (fs, dd) = fsOf(spark, deltaDir(out))
      if (fs.exists(dd) && !hasDataFiles(fs, dd)) fs.delete(dd, true)
    }
  }

  /** One row per `groups` (⊇ [[keyCols]]) through the store's pick; the
    * output is `carry ++ keyCols ++ payload ++ partCol`.
    */
  def pickPerKey(rows: DataFrame, groups: Seq[String], carry: Seq[String] = Nil): DataFrame =
    rows.groupBy(groups.map(col): _*).agg(pick.as("_pick"))
      .select((carry ++ keyCols).map(col) ++
        payloadCols.map(c => col(s"_pick.$c").as(c)) :+ col(partCol): _*)

  /** Tombstone resolution over (…, op, batch_seq) rows already clustered
    * by a subset of `groups`: the window finds each key's latest delete,
    * newer adds survive, the pick collapses them — window, filter and
    * aggregate all ride the caller's one exchange.
    */
  private def resolve(rows: DataFrame, groups: Seq[String], carry: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(groups.map(col): _*)
    pickPerKey(
      rows.withColumn("_dseq",
        coalesce(max(when(col("op") === OpDel, col("batch_seq"))).over(w), lit(-1L)))
        .filter(col("op") === OpAdd && col("batch_seq") > col("_dseq")),
      groups, carry)
  }

  private def asRows(base: DataFrame): DataFrame =
    base.withColumn("op", lit(OpAdd)).withColumn("batch_seq", lit(0L))

  /** The merged view: base ∪ pending batches (≤ `asOf` when given; 0 is
    * the bare base), resolved. With nothing pending it IS the base scan.
    * `widen(df, fromSeq)` may replicate rows before resolution (each row
    * with its batch's seq, base rows with 0); its added `extraKeys` join
    * the resolution keys and the output.
    */
  def mergedRead(
      spark: SparkSession, out: String, asOf: Option[Long] = None,
      extraKeys: Seq[String] = Nil,
      widen: (DataFrame, Column) => DataFrame = (df, _) => df): DataFrame = {
    asOf.foreach(s => require(s >= 0L, s"asOf=$s must be ≥ 0"))
    val base = readBase(spark, out)
    lazy val deltas = asOf.foldLeft(readDelta(spark, out))(
      (d, s) => d.filter(col("batch_seq") <= s))
    lazy val touchedSet = touched(deltas, partCol)
    if (!pending(spark, out) || asOf.contains(0L) || touchedSet.isEmpty)
      widen(base, lit(0L))
    else {
      val hit = col(partCol).isin(touchedSet: _*)
      val keys = extraKeys ++ (partCol +: keyCols)
      val rows = widen(asRows(base.filter(hit)).unionByName(deltas), col("batch_seq"))
      widen(base.filter(!hit), lit(0L))
        .unionByName(resolve(rows.repartition(keys.map(col): _*), keys, extraKeys))
    }
  }

  /** The single-partition read: base and log both prune by `filter` (a
    * predicate on `partCol` plus any row filter) before anything
    * shuffles; only those rows resolve.
    */
  def readPartition(spark: SparkSession, out: String, filter: Column): DataFrame = {
    val base = readBase(spark, out).filter(filter)
    if (!pending(spark, out)) base
    else {
      val keys = partCol +: keyCols
      resolve(asRows(base).unionByName(readDelta(spark, out).filter(filter))
        .repartition(keys.map(col): _*), keys)
    }
  }

  /** Fold every pending batch into the base: touched partitions only,
    * resolved, rewritten, emptied ones deleted; then drop the log. No-op
    * with nothing pending. `cluster` lays the rows out for the write
    * (the resolution rides its exchange) and `clusterCols` are the columns
    * it adds to the resolution keys.
    */
  def compact(
      spark: SparkSession, out: String, checkpoint: CheckpointPolicy,
      clusterCols: Seq[String] = Nil,
      cluster: DataFrame => DataFrame = identity): Unit = {
    if (!pending(spark, out)) return
    val deltas = readDelta(spark, out)
    val touchedSet = touched(deltas, partCol)
    val rows = asRows(readBase(spark, out).filter(col(partCol).isin(touchedSet: _*)))
      .select(opCols.map(col): _*)
      .unionByName(deltas.select(opCols.map(col): _*))
    val merged = checkpoint.truncate(
      resolve(cluster(rows), (partCol +: clusterCols) ++ keyCols))
    rewritePartitions(merged, baseDir(out), partCol, touchedSet)
    clearLog(spark, out)
  }

  /** Drop the delta log and its markers (after a compaction or a rebuild). */
  def clearLog(spark: SparkSession, out: String): Unit = {
    dropDir(spark, deltaDir(out))
    dropDir(spark, markerDir(out))
  }
}

object PartitionedLsm {

  val OpAdd = "add"
  val OpDel = "del"

  private def fsOf(spark: SparkSession, p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  private def hasDataFiles(fs: FileSystem, dir: Path): Boolean = {
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) return true
    }
    false
  }

  def dropDir(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = fsOf(spark, dir)
    fs.delete(p, true)
  }

  // ------------------------------------------------------------ marker log
  // One empty file per event under `dir`: the delta batch counter here,
  // the applied-fold ledger in ViewStore.

  def addMarker(spark: SparkSession, dir: String,
      name: String = s"batch-${java.util.UUID.randomUUID()}"): Unit = {
    val (fs, d) = fsOf(spark, dir)
    fs.mkdirs(d)
    fs.create(new Path(d, name), false).close()
  }

  def hasMarker(spark: SparkSession, dir: String, name: String): Boolean = {
    val (fs, d) = fsOf(spark, dir)
    fs.exists(new Path(d, name))
  }

  private def markerCount(spark: SparkSession, dir: String): Int = {
    val (fs, d) = fsOf(spark, dir)
    if (fs.exists(d)) fs.listStatus(d).length else 0
  }

  // ----------------------------------------------------- partition rewrites

  /** The distinct `partCol` values of `df` — one small collect, bounded by
    * the partition count, never by data. The column is not cast (partition
    * discovery may type it INT): a cast key shuffles more bytes.
    */
  def touched(df: DataFrame, partCol: String): Seq[Long] =
    df.select(col(partCol)).distinct().collect().map(_.getAs[Number](0).longValue).toSeq

  /** Dynamic-overwrite `rows` into the `partCol` partitions of `root`,
    * then delete every `touched` partition the rows no longer populate.
    * The surviving set is observed during the write job, not read back.
    * `rows` must not be lazily reading `root` (stage it through a
    * checkpoint first).
    */
  def rewritePartitions(
      rows: DataFrame, root: String, partCol: String, touched: Seq[Long]): Unit = {
    val obs = new Observation(s"lsm.rewrite.${java.util.UUID.randomUUID()}")
    rows.observe(obs, collect_set(col(partCol).cast("long")).as("p"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(root)
    val surviving = obs.get("p").asInstanceOf[Seq[Long]].toSet
    val (fs, r) = fsOf(rows.sparkSession, root)
    touched.filterNot(surviving).foreach(v => fs.delete(new Path(r, s"$partCol=$v"), true))
  }
}
