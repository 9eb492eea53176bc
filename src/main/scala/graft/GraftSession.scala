package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession builder preconfigured the way every
  * graft deployment should start, so `GraftSession.builder("app")
  * .master(...).getOrCreate()` is the one-liner between "cluster" and
  * "running the catalog". Every main in this repo builds its session here,
  * through [[local]].
  *
  * What it pins, and why:
  *  - `spark.sql.extensions` → [[graft.functions.GraftExtensions]]: the
  *    native expressions (`float_vector_dot`, `word_shingles`,
  *    `minhash_signature`, `simhash_signature`) become SQL functions for
  *    pure-SQL clients, not only the Column API.
  *  - `spark.sql.session.timeZone=UTC`: every oracle-checked operator in
  *    this library derives timestamps tz-independently; pinning the
  *    session zone removes the one remaining way a deployment could skew
  *    date_trunc/window boundaries between clusters.
  *  - `spark.sql.adaptive.skewJoin.enabled=true` (explicit, though
  *    default-on in Spark 4): AQE skew splitting is the first line of
  *    defense for hot keys; `operators/Skew` is for the cases it can't
  *    fix.
  *  - `spark.sql.parquet.compression.codec=zstd`: at 100 TB the scan is
  *    IO-bound; zstd trades a little CPU for materially smaller files
  *    than the default snappy.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the only way to open a
  *    TIMESTAMP(NANOS) parquet column (`io.Tables` reads `events.ts` under
  *    either encoding); set once here so no reader mutates session state.
  *  - `spark.sql.shuffle.partitions`: caller-sized (default 200) — size
  *    it so a partition of your largest shuffle fits executor memory;
  *    AQE coalesces the small ones back down at runtime.
  */
object GraftSession {

  /** Default reliable-checkpoint home, shared by every entry point. On a
    * cluster, override with durable shared storage. Each SparkContext
    * checkpoints into its own UUID subdirectory under this path;
    * `Reuse.materialize` registers a shutdown hook that deletes that
    * subdirectory so repeated runs don't accumulate checkpoint blocks. */
  val DefaultCheckpointDir: String =
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft-checkpoints"

  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, else every processor. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The configuration contract, exposed for inspection/tests. */
  def configs(shufflePartitions: Int): Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    // Object-hash aggregates (BoundedLongCollect, collect_list, sketches)
    // fall back to SORT-based aggregation after 128 distinct keys per
    // partition by default — a full sort of the dedup shingle streams.
    // This engine's imperative buffers are structurally bounded
    // (BoundedLongCollect caps at 64 longs, sketches are fixed-size), so
    // 128k in-memory groups is tens of MB per partition; past that the
    // sort fallback still protects memory.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072",
    // Reliable-checkpoint home for operators/Reuse, read by SparkContext at
    // start: on a cluster, OVERRIDE this with durable shared storage — an
    // executor-local path defeats the recoverability the reliable path
    // exists for. The cleaner drops files for frames garbage-collected
    // mid-session; Reuse.materialize's shutdown hook removes this app's
    // subdirectory at exit.
    "spark.checkpoint.dir" -> DefaultCheckpointDir,
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  def builder(appName: String, shufflePartitions: Int = 200): SparkSession.Builder = {
    require(shufflePartitions > 0, "shufflePartitions must be positive")
    configs(shufflePartitions).foldLeft(
      SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }
  }

  /** [[builder]] for a single-JVM `local[cpus]` run with the web UI off,
    * one shuffle partition per core. */
  def local(appName: String): SparkSession.Builder =
    builder(appName, cpus).master(s"local[$cpus]").config("spark.ui.enabled", "false")
}
