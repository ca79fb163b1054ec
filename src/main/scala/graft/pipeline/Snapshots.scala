package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Stage-granular resumable snapshots.
  *
  * Emulates table-format snapshot semantics on plain Parquet (no Iceberg
  * jars ship in /opt/spark/jars — SURVEY.md §7.0): a stage is COMMITTED iff
  * its directory holds both the writer's `_SUCCESS` marker and our
  * `_manifest.json` (written strictly after the data). A killed job
  * restarts, finds the committed stages, and recomputes only the rest —
  * final output byte-identical because every stage is a deterministic
  * function of committed inputs.
  *
  * Isolated behind this one class so a real catalog/table-format backend
  * can replace it without touching the stages.
  */
final class SnapshotStore(root: String, spark: SparkSession, config: String = "") {

  require(!config.contains('"') && !config.contains('\\'),
    s"snapshot config must not need JSON escaping: $config")

  /** Caller config plus the snapshot FORMAT version: a resume must not
    * silently serve stage outputs committed by an older build whose ids
    * or schemas differ (e.g. a mentionId hash change) — bumping
    * [[SnapshotStore.FormatVersion]] invalidates every prior snapshot.
    */
  private val fullConfig = s"fmt=${SnapshotStore.FormatVersion};$config"

  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(stage: String) = new Path(root, stage)
  private def manifest(stage: String) = new Path(dir(stage), "_manifest.json")

  /** Committed iff data + manifest exist AND the manifest's recorded
    * config equals ours — re-running a DIFFERENT job (page count, input
    * identity) into the same out dir must recompute, not silently serve
    * the previous run's snapshots.
    */
  def committed(stage: String): Boolean =
    fs.exists(new Path(dir(stage), "_SUCCESS")) && fs.exists(manifest(stage)) &&
      manifestConfig(stage) == fullConfig

  private def manifestText(stage: String): String = {
    val in = fs.open(manifest(stage))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def manifestConfig(stage: String): String =
    """"config":"([^"]*)"""".r.findFirstMatchIn(manifestText(stage)).map(_.group(1)).getOrElse("")

  private def manifestRows(stage: String): Long =
    """"rows":(\d+)""".r.findFirstMatchIn(manifestText(stage)).get.group(1).toLong

  def load(stage: String): DataFrame = spark.read.parquet(dir(stage).toString)

  private def writeManifest(stage: String, rows: Long, wallMs: Long): Unit = {
    val json =
      s"""{"stage":"$stage","rows":$rows,"wall_ms":$wallMs,"config":"$fullConfig",""" +
        s""""committed_at_ms":${System.currentTimeMillis()}}"""
    val out = fs.create(manifest(stage), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Run a stage through the snapshot gate: skip when committed, else
    * compute → write → manifest → read back (downstream reads the
    * committed bytes, never the in-flight plan). Returns the DataFrame and
    * its row count. A commit is ONE job: the count rides the write as an
    * observed metric and the read-back takes `compute`'s schema (as a
    * parquet read infers it: every field nullable) instead of inferring it;
    * a committed stage's count comes from its manifest.
    */
  def run(stage: String)(compute: => DataFrame): (DataFrame, Long) =
    if (committed(stage)) (load(stage), manifestRows(stage))
    else {
      val t0 = System.currentTimeMillis()
      val df = compute
      val obs = new Observation()
      df.observe(obs, count(lit(1)).as("n")).write.mode("overwrite").parquet(dir(stage).toString)
      val rows = obs.get("n").asInstanceOf[Long]
      writeManifest(stage, rows, System.currentTimeMillis() - t0)
      val schema = SnapshotStore.nullable(df.schema).asInstanceOf[StructType]
      (spark.read.schema(schema).parquet(dir(stage).toString), rows)
    }

  /** Drop a stage's snapshot (test helper for kill/resume scenarios). */
  def invalidate(stage: String): Unit = {
    if (fs.exists(dir(stage))) { fs.delete(dir(stage), true); () }
  }

  def stages(): Seq[String] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq.filter(_.isDirectory).map(_.getPath.getName)
}

object SnapshotStore {
  /** Snapshot FORMAT version, folded into every manifest's config gate.
    * Bump on any change that alters committed stage bytes for identical
    * job config — id/hash functions (e.g. `Mentions.mentionId`), stage
    * schemas, emission rules — so stale-format snapshots recompute
    * instead of silently serving.
    */
  val FormatVersion = 2

  /** `t` with every field, array element and map value nullable: the
    * schema a parquet read infers for data written from `t`.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
