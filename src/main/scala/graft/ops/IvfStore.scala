package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipeline.{CheckpointPolicy, PartitionedLsm}

/** Persistent IVF vector index with an LSM DELTA PATH: new vectors APPEND
  * into existing cells (one narrow assignment pass against the stored
  * centroids — training stays periodic, exactly how production IVF
  * indexes absorb writes), deletions are vec_id tombstones, and
  * compaction folds both into the base. The log, resolution, as-of reads
  * and compaction are the [[graft.pipeline.PartitionedLsm]] core (its
  * scaladoc states the rules) keyed on `vec_id`, partitioned by `cell`;
  * among a vector's live adds the newest batch's vector wins.
  *
  * Layout under `out`:
  *   - `base/` — (vec_id, g, n, cell) parquet partitioned by cell
  *   - `_delta/`, `_delta_batches/` — the core's log and markers
  *   - `_centroids/` — (k, m) the trained coarse quantizer on the ×1000
  *     integer grid ([[EmbeddingOps.kmeansRefine]]'s convention), so every
  *     append and every search uses THE SAME quantizer the base was built
  *     with (an index is its centroids; a rebuild refreshes both)
  *
  * Scale shapes: append assigns against centroid LITERALS (cells×dims
  * longs in the plan — nothing collects, nothing joins) and writes bytes
  * ∝ delta (spec-pinned on FS sizes); deletes look the doomed ids' cells
  * up with one broadcast semi-join (the id→cell lookup every real vector
  * store does) so tombstones carry their cell and resolution stays
  * cell-local.
  */
object IvfStore {

  private[graft] val Store = new PartitionedLsm("cell", Seq("vec_id"),
    max(struct(col("batch_seq"), col("g"), col("n"))),
    StructType.fromDDL("vec_id BIGINT, g ARRAY<BIGINT>, n BIGINT, cell BIGINT"), "base")

  private def centDir(out: String) = s"$out/_centroids"

  val OpAdd: String = PartitionedLsm.OpAdd
  val OpDel: String = PartitionedLsm.OpDel

  /** Delta batches appended since the last [[compact]]/[[write]]. */
  def deltaBatchCount(spark: SparkSession, out: String): Int = Store.batchCount(spark, out)

  /** Build (or rebuild) the index: assign every vector to its nearest
    * stored-centroid cell (exact ×1000-grid integer distance, ties to the
    * lowest k) and persist base + centroids. `centroids` come from
    * [[EmbeddingOps.kmeansRefine]]'s trained table or the deterministic
    * seeds ×1000 — training is the caller's periodic job, not this path.
    */
  def write(
      embeddings: DataFrame, out: String,
      centroids: Array[Array[Long]], dims: Int = 64): Unit = {
    require(centroids.nonEmpty, "an IVF index needs at least one centroid")
    val spark = embeddings.sparkSession
    EmbeddingOps.gridded(embeddings)
      .withColumn("cell", EmbeddingOps.assignCellExpr(centroids, dims))
      .select(col("vec_id"), col("g"), col("n"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(Store.baseDir(out))
    import spark.implicits._
    centroids.zipWithIndex.map { case (m, k) => (k.toLong, m.toSeq) }.toSeq
      .toDF("k", "m")
      .coalesce(1).write.mode("overwrite").parquet(centDir(out))
    Store.clearLog(spark, out)
  }

  /** The stored coarse quantizer — collect bounded by cells×dims. */
  def centroids(spark: SparkSession, out: String): Array[Array[Long]] =
    spark.read.parquet(centDir(out)).orderBy(col("k").asc).collect()
      .map(_.getSeq[Long](1).toArray)

  /** APPEND new vectors into the existing cells: one narrow pass (grid →
    * assign against centroid literals → write), bytes ∝ delta. The index
    * serves them on the next [[readMerged]]/[[searchTopK]] — no rebuild.
    */
  def appendVectors(spark: SparkSession, out: String, vectors: DataFrame): Unit = {
    val m = centroids(spark, out)
    Store.append(spark, out, EmbeddingOps.gridded(vectors)
      .withColumn("cell", EmbeddingOps.assignCellExpr(m, m(0).length))
      .withColumn("op", lit(OpAdd)))
  }

  /** DELETE vectors by id: the doomed ids' cells come from one broadcast
    * semi-join against the merged view (cell-pruned scans — the id→cell
    * lookup), and the tombstones land cell-partitioned so read-time
    * resolution never leaves the cell. Ids not in the index are ignored.
    */
  def deleteVectors(spark: SparkSession, out: String, vecIds: DataFrame): Unit = {
    val ids = vecIds.select(col(vecIds.columns.head).cast("long").as("vec_id"))
    // materialize the delta-sized batch ONCE: the lookup plan reads the
    // very delta log the write below appends to (the updateWhere rule)
    val doomed = readMerged(spark, out)
      .join(broadcast(ids), Seq("vec_id"), "left_semi")
      .localCheckpoint()
    Store.append(spark, out, doomed.withColumn("op", lit(OpDel)))
  }

  /** The live vector set: base ∪ delta, tombstones resolved. Only
    * delta-touched CELLS pay the resolution exchange; with no pending
    * delta this is the plain base scan.
    */
  def readMerged(spark: SparkSession, out: String): DataFrame =
    Store.mergedRead(spark, out)

  /** TIME TRAVEL (the kg60 discipline on the vector store): the live set
    * as of delta batch `asOf` (≥ 0; 0 is the base build). Valid until a
    * [[compact]] folds the log.
    */
  def readAsOf(spark: SparkSession, out: String, asOf: Long): DataFrame =
    Store.mergedRead(spark, out, Some(asOf))

  /** The full AS-OF EVOLUTION (as_of, vec_id, cell) for as_of ∈ 0..upTo in
    * ONE resolution pass — row-identical to unioning [[readAsOf]] per cut
    * (emb20's shape), but the base and delta scan once, every cut shares
    * one exchange, and `as_of` joins the resolution keys. A delta row with
    * batch_seq = b participates in every cut ≥ b (a bounded explode over
    * the literal cut list); untouched base rows replicate cut-count times
    * outside the exchange.
    */
  def readEvolution(spark: SparkSession, out: String, upTo: Long): DataFrame = {
    val cuts = array((0L to upTo).map(lit(_)): _*)
    Store.mergedRead(spark, out, Some(upTo), Seq("as_of"),
      (df, from) => df.withColumn("as_of", explode(filter(cuts, c => c >= from))))
      .select(col("as_of"), col("vec_id"), col("cell"))
  }

  /** IVF top-k over the LIVE set: [[EmbeddingOps.annWithinKey]] on the
    * merged cells — equal to a fresh rebuild's search by construction
    * (same centroids, same live vectors; the emb19 gate pins it).
    */
  def searchTopK(spark: SparkSession, out: String, k: Int): DataFrame =
    EmbeddingOps.annWithinKey(readMerged(spark, out), "cell", k)

  /** Fold the delta log into the base (touched cells only, emptied cells
    * deleted) and clear it. Tombstones are consumed here.
    */
  def compact(
      spark: SparkSession, out: String,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit =
    Store.compact(spark, out, checkpoint)
}
