package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Graph-table materialization: dedup, predicate-hash partitioning, and
  * explicit skew handling.
  *
  * Layout per the north_star: Parquet partitioned by
  * `pred_hash = pmod(xxhash64(pred), P)`. Hot predicates (`rdf:type`
  * dominates every KG) would otherwise serialize through one task per
  * partition directory — a SALT column joins the repartition key so each
  * hot predicate fans out across S tasks. S is DATA-DRIVEN per predicate
  * (see [[saltPlan]]): a cheap `groupBy(pred).count` sketch (or
  * caller-provided estimates) sizes each predicate's fan-out to
  * `targetRowsPerSalt` rows per write task, floored so total write
  * parallelism never collapses for small pred vocabularies, capped at
  * [[MaxSalt]]. AQE remains on as the backstop for residual skew.
  */
object Materialize {

  val DefaultPredBuckets = 64
  val DefaultSalt = 16

  /** Rows one (pred, salt) write task should own — at ~70 B/triple in
    * flight this is a few hundred MB per task, the classic healthy range.
    */
  val TargetRowsPerSalt = 2000000L

  /** Per-predicate fan-out ceiling (a 10^11-row predicate still caps at
    * 256 concurrent writers per pred_hash bucket; beyond that the
    * bottleneck is the store, not the shuffle).
    */
  val MaxSalt = 256

  def withPredHash(df: DataFrame, predBuckets: Int = DefaultPredBuckets): DataFrame =
    df.withColumn("pred_hash", pmod(xxhash64(col("pred")), lit(predBuckets)))

  /** Cheap predicate-frequency sketch: a column-pruned, map-side-combined
    * aggregate whose shuffle is |distinct preds| rows. Only the top
    * `maxPreds` by count reach the driver — the long tail salts at the
    * floor anyway, so the collect stays bounded on any input.
    */
  def sketchPredCounts(triples: DataFrame, maxPreds: Int = 4096): Map[String, Long] =
    triples.groupBy(col("pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pred").asc).limit(maxPreds).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Per-predicate salt factors from (possibly estimated) counts: enough
    * fan-out that no pred exceeds ~targetRowsPerSalt rows per task, at
    * least `baseSalt` so write parallelism survives small vocabularies,
    * at most [[MaxSalt]]. Estimates are fine — S only needs the order of
    * magnitude.
    */
  def saltPlan(
      predCounts: Map[String, Long],
      targetRowsPerSalt: Long = TargetRowsPerSalt,
      maxSalt: Int = MaxSalt,
      baseSalt: Int = 1): Map[String, Int] =
    predCounts.map { case (p, c) =>
      val need = (c + targetRowsPerSalt - 1) / math.max(targetRowsPerSalt, 1L)
      p -> math.min(maxSalt.toLong, math.max(baseSalt.toLong, need)).toInt
    }

  /** `subj_salt` column: pmod(xxhash64(subj), S_pred) with S looked up in
    * the plan (predicates outside the plan use `defaultSalt`). Still a
    * pure function of (subj, pred), so the dedup keys stay a superset of
    * the partitioning keys — the one-exchange property below survives.
    */
  private def saltCol(plan: Map[String, Int], defaultSalt: Int): Column = {
    val s =
      if (plan.isEmpty) lit(defaultSalt.toLong)
      else coalesce(element_at(typedLit(plan), col("pred")), lit(defaultSalt)).cast("long")
    pmod(xxhash64(col("subj")), s)
  }

  private val Prov = min(struct(col("src_url"), col("warc_ts")))

  /** The graph tables' [[PartitionedLsm]] cores (the LSM rules live
    * there). Quads add `graph` to every content key: named graphs share
    * the pred_hash layout, but a retraction only hides its own graph's
    * quad. A table is triples or quads for its lifetime.
    */
  private[graft] val Triples = new PartitionedLsm("pred_hash", Seq("subj", "pred", "obj"), Prov,
    StructType.fromDDL(
      "subj STRING, pred STRING, obj STRING, src_url STRING, warc_ts TIMESTAMP, pred_hash INT"))
  private[graft] val Quads = new PartitionedLsm("pred_hash", Seq("graph", "subj", "pred", "obj"),
    Prov, StructType.fromDDL("graph STRING, subj STRING, pred STRING, obj STRING, " +
      "src_url STRING, warc_ts TIMESTAMP, pred_hash INT"))

  val OpAdd: String = PartitionedLsm.OpAdd
  val OpDel: String = PartitionedLsm.OpDel

  private def salted(
      df: DataFrame, predBuckets: Int, plan: Map[String, Int], salt: Int): DataFrame =
    withPredHash(df, predBuckets)
      .withColumn("subj_salt", saltCol(plan, salt))
      .repartition(col("pred_hash"), col("subj_salt"))

  /** Dedup + partition — ONE shuffle of the triple table (the largest
    * table in the job; round 1 shuffled it twice: a dropDuplicates
    * exchange on hash(s,p,o) followed by the salted repartition).
    *
    * How: the salted repartition on (pred_hash, subj_salt) runs FIRST;
    * the dedup group keys (pred_hash, subj_salt, subj, pred, obj) are a
    * SUPERSET of the partitioning expressions (pred_hash = f(pred),
    * subj_salt = f(subj, pred)), so `HashPartitioning(pred_hash,
    * subj_salt)` already satisfies the aggregate's ClusteredDistribution
    * and Catalyst plans the dedup with NO second exchange — the whole
    * shuffle→aggregate→write pipeline is one exchange, and the write
    * stays clustered by pred_hash. Provenance per (s,p,o) is the MIN
    * (src_url, warc_ts) pair — deterministic, unlike dropDuplicates-first.
    * `carry` columns (a delta batch's `op`) join the group keys.
    */
  private def deduped(
      lsm: PartitionedLsm, df: DataFrame, predBuckets: Int, plan: Map[String, Int],
      salt: Int, carry: Seq[String] = Nil): DataFrame =
    lsm.pickPerKey(salted(df, predBuckets, plan, salt),
      Seq("pred_hash", "subj_salt") ++ lsm.keyCols ++ carry, carry)

  private[pipeline] def saltedDeduped(
      triples: DataFrame,
      predBuckets: Int,
      plan: Map[String, Int],
      defaultSalt: Int): DataFrame =
    deduped(Triples, triples, predBuckets, plan, defaultSalt)

  private def writeBase(
      lsm: PartitionedLsm, df: DataFrame, out: String, predBuckets: Int,
      plan: Map[String, Int], salt: Int): Unit =
    deduped(lsm, df, predBuckets, plan, salt)
      .write.mode("overwrite")
      .partitionBy("pred_hash")
      .parquet(out)

  /** Fixed-salt write (every predicate fans out ×`salt`). */
  def write(
      triples: Dataset[TripleRow],
      out: String,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit =
    writeBase(Triples, triples.toDF(), out, predBuckets, Map.empty, salt)

  /** [[write]] for quads (graph, subj, pred, obj, src_url, warc_ts): the
    * same one-exchange dedup+write with `graph` in the group keys.
    */
  def writeQuads(
      quads: DataFrame,
      out: String,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit =
    writeBase(Quads, quads, out, predBuckets, Map.empty, salt)

  /** Data-driven write: salt factors picked per predicate from
    * `predCounts` (caller estimates — e.g. from stage manifests — avoid a
    * second pass over a lazily-derived input) or, when absent, from the
    * [[sketchPredCounts]] sketch. The parallelism floor spreads the
    * vocabulary across ~2× the session's shuffle partitions even when
    * every count is small.
    */
  def writeAdaptive(
      triples: Dataset[TripleRow],
      out: String,
      predBuckets: Int = DefaultPredBuckets,
      predCounts: Option[Map[String, Long]] = None,
      targetRowsPerSalt: Long = TargetRowsPerSalt,
      maxSalt: Int = MaxSalt): Unit = {
    val df = triples.toDF()
    val counts = predCounts.getOrElse(sketchPredCounts(df))
    val shuffleP = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // the parallelism floor obeys the same ceiling the plan does — a
    // 1-predicate sketch under a large shuffle-partition setting must not
    // fan unplanned predicates out beyond maxSalt
    val baseSalt = math.min(maxSalt,
      math.max(1, (2 * shuffleP + counts.size - 1) / math.max(counts.size, 1)))
    writeBase(Triples, df, out, predBuckets,
      saltPlan(counts, targetRowsPerSalt, maxSalt, baseSalt), baseSalt)
  }

  def read(spark: org.apache.spark.sql.SparkSession, out: String): DataFrame =
    spark.read.parquet(out)

  // ------------------------------------------------------ incremental paths
  //
  // The LSM family: appendDelta lands a batch under `out/_delta` (bytes ∝
  // delta, never ∝ partition), readMerged serves base ∪ log resolved, and
  // compact folds the log into the touched pred_hash partitions — one
  // heavy rewrite amortized over many cheap appends. mergeDelta is the
  // eager form (append, then compact at once). Every rule (tombstones,
  // batch order, emptied partitions, as-of history) is [[PartitionedLsm]]'s.

  /** Merge a batch of new triples into the base now: append it, then
    * compact — only the pred_hash partitions the batch (and any pending
    * log) touches are read and rewritten; untouched partitions are never
    * listed or replaced (PipelineSpec pins byte-identical files). A
    * pending retraction of a re-asserted triple resolves like any other
    * batch: the newer assertion wins. Re-merging an applied batch leaves
    * the graph unchanged.
    */
  def mergeDelta(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      delta: Dataset[TripleRow],
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit =
    mergeDeltaLsm(spark, out, delta, predBuckets, salt, maxDeltaBatches = 1, checkpoint)

  /** Append one batch of assertions under `out/_delta` (within-batch
    * dedup rides the salted exchange; cross-batch duplicates resolve at
    * [[readMerged]]/[[compact]], so repeated appends stay idempotent at
    * the read surface). An empty delta is a no-op. For retractions pass
    * (op, …) rows to [[appendDeltaOps]] or a diff to [[applyDiff]].
    */
  def appendDelta(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      delta: Dataset[TripleRow],
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit =
    appendDeltaOps(spark, out, delta.toDF().withColumn("op", lit(OpAdd)),
      predBuckets, salt)

  /** [[appendDelta]] for mixed assertions + retractions: `deltaOps` rows
    * are (subj, pred, obj, src_url, warc_ts, op) with op ∈ {add, del}
    * (a del's provenance columns are carried but never surface — only
    * live assertions contribute provenance).
    */
  def appendDeltaOps(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      deltaOps: DataFrame,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit =
    appendOps(Triples, spark, out, deltaOps, predBuckets, salt)

  /** [[appendDeltaOps]] for quad deltas (…, graph, op). */
  def appendQuadDeltaOps(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      deltaOps: DataFrame,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit =
    appendOps(Quads, spark, out, deltaOps, predBuckets, salt)

  private def appendOps(
      lsm: PartitionedLsm, spark: org.apache.spark.sql.SparkSession, out: String,
      deltaOps: DataFrame, predBuckets: Int, salt: Int): Unit =
    lsm.append(spark, out, deduped(lsm,
      deltaOps.select((lsm.dataCols :+ "op").map(col): _*),
      predBuckets, Map.empty, salt, carry = Seq("op")))

  /** Number of delta batches appended since the last [[compact]]. */
  def deltaBatchCount(spark: org.apache.spark.sql.SparkSession, out: String): Int =
    Triples.batchCount(spark, out)

  /** The merged view: base ∪ pending deltas, tombstones resolved, the
    * min-provenance rule a full write applies. With no pending deltas
    * this is the base scan; otherwise only the delta-touched pred_hash
    * partitions pay the resolution exchange (plan-guarded).
    */
  def readMerged(spark: org.apache.spark.sql.SparkSession, out: String): DataFrame =
    Triples.mergedRead(spark, out)

  /** [[readMerged]] for quad tables: retractions stay scoped to their
    * named graph.
    */
  def readMergedQuads(spark: org.apache.spark.sql.SparkSession, out: String): DataFrame =
    Quads.mergedRead(spark, out)

  /** TIME-TRAVEL read: the graph as of delta batch `asOfSeq` (≥ 0; 0 is
    * the bare base, [[deltaBatchCount]] is "now", beyond it clamps to now).
    * The travel window is the current delta log — [[compact]] consumes
    * history. Same bounded merge-on-read plan as [[readMerged]].
    */
  def readAsOf(
      spark: org.apache.spark.sql.SparkSession, out: String, asOfSeq: Long): DataFrame =
    Triples.mergedRead(spark, out, Some(asOfSeq))

  /** Fold all pending deltas into the base: the resolution rides the same
    * salted (pred_hash, subj_salt) exchange a full write uses, touched
    * partitions are dynamically overwritten (emptied ones deleted), and
    * the log is dropped. No-op when no deltas are pending.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit =
    Triples.compact(spark, out, checkpoint, Seq("subj_salt"),
      salted(_, predBuckets, Map.empty, salt))

  /** [[compact]] for quad tables. */
  def compactQuads(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit =
    Quads.compact(spark, out, checkpoint, Seq("subj_salt"),
      salted(_, predBuckets, Map.empty, salt))

  /** The LSM merge entry point: append the batch (cheap — bytes ∝ delta),
    * compact once `maxDeltaBatches` have accumulated. The incremental-
    * update path to prefer over [[mergeDelta]] when deltas are frequent
    * and small relative to the partitions they touch.
    */
  def mergeDeltaLsm(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      delta: Dataset[TripleRow],
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt,
      maxDeltaBatches: Int = 8,
      checkpoint: CheckpointPolicy = CheckpointPolicy.Local): Unit = {
    appendDelta(spark, out, delta, predBuckets, salt)
    if (deltaBatchCount(spark, out) >= maxDeltaBatches)
      compact(spark, out, predBuckets, salt, checkpoint)
  }

  /** Snapshot DIFF between two materialized graphs — the KG-ops audit
    * primitive ("what changed between yesterday's build and today's?"):
    * one row per changed triple, `op` ∈ {add, del} (add = in `newOut`
    * only, del = in `oldOut` only). Exact set difference via two
    * left-anti joins keyed on (pred_hash, s, p, o): the layout's
    * partition key rides the join keys, so both sides cluster by the
    * SAME hash layout, and a predicate-scoped diff prunes both scans to
    * one pred_hash bucket with [[readPred]]-style filters before any
    * shuffle. Provenance columns are deliberately excluded — the diff is
    * over graph CONTENT, not over which crawl delivered it.
    */
  def graphDiff(
      spark: org.apache.spark.sql.SparkSession,
      oldOut: String, newOut: String,
      predBuckets: Int = DefaultPredBuckets): DataFrame =
    graphDiffProv(spark, oldOut, newOut, predBuckets)
      .select(col("op"), col("subj"), col("pred"), col("obj"))

  /** [[graphDiff]] carrying provenance — the DIRECTLY APPLYABLE form: adds
    * keep the NEW snapshot's (src_url, warc_ts), dels carry the old
    * snapshot's (retractions never surface provenance; the columns just
    * keep the row shape uniform). Feed the result to [[applyDiff]] to
    * bring an LSM table holding the old snapshot to the new one. The join
    * key includes pred_hash RECOMPUTED from pred on both sides (not the
    * stored partition column), so two snapshots written with different
    * predBuckets layouts still diff exactly — while snapshots sharing the
    * layout keep the co-clustered join.
    */
  def graphDiffProv(
      spark: org.apache.spark.sql.SparkSession,
      oldOut: String, newOut: String,
      predBuckets: Int = DefaultPredBuckets): DataFrame = {
    def side(p: String) =
      withPredHash(
        read(spark, p).select(col("subj"), col("pred"), col("obj"),
          col("src_url"), col("warc_ts")),
        predBuckets)
    val o = side(oldOut)
    val n = side(newOut)
    val keys = Seq("pred_hash", "subj", "pred", "obj")
    val keyCols = keys.map(col)
    n.join(o.select(keyCols: _*), keys, "left_anti").withColumn("op", lit(OpAdd))
      .unionByName(
        o.join(n.select(keyCols: _*), keys, "left_anti").withColumn("op", lit(OpDel)))
      .select(col("op"), col("subj"), col("pred"), col("obj"),
        col("src_url"), col("warc_ts"))
  }

  /** Apply a [[graphDiffProv]] diff to an LSM graph table as ONE delta
    * batch: adds assert, dels retract; [[readMerged]] immediately serves
    * the new snapshot's content, [[compact]] folds it into the base.
    * Bytes written ∝ |diff| — the incremental re-crawl path: diff
    * yesterday's build against today's, apply, done.
    */
  def applyDiff(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      diffProv: DataFrame,
      predBuckets: Int = DefaultPredBuckets,
      salt: Int = DefaultSalt): Unit =
    appendDeltaOps(spark, out, diffProv, predBuckets, salt)

  /** Single-predicate read that EXPLOITS the layout: the `pred_hash`
    * equality folds to a constant and prunes the scan to 1/predBuckets of
    * the partition directories (PartitionFilters in the plan), then the
    * row-level `pred` filter pushes into parquet. This is the access path
    * a downstream "all triples of predicate P" query takes at 100 TB.
    */
  def readPred(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      pred: String,
      predBuckets: Int = DefaultPredBuckets): DataFrame =
    read(spark, out)
      .filter(col("pred_hash") === pmod(xxhash64(lit(pred)), lit(predBuckets)) &&
        col("pred") === pred)

  /** [[readPred]] against the MERGED view: both the base and the pending
    * delta log prune to the predicate's single pred_hash partition before
    * anything shuffles (PartitionFilters on both scans), tombstones
    * resolve over just those rows. The per-predicate access path between
    * compactions — a 1/predBuckets read plus a delta-sized dedup, never a
    * whole-table merge.
    */
  def readMergedPred(
      spark: org.apache.spark.sql.SparkSession,
      out: String,
      pred: String,
      predBuckets: Int = DefaultPredBuckets): DataFrame =
    Triples.readPartition(spark, out,
      col("pred_hash") === pmod(xxhash64(lit(pred)), lit(predBuckets)) && col("pred") === pred)
}
