package graft

import org.apache.spark.sql.SparkSession
import scala.util.chaining._

/** Canonical session factory for the engine — one place that encodes the
  * scale-relevant configuration so every entry point (Verify, Bench, user
  * code) runs with the same execution posture:
  *
  *  - AQE on, with partition coalescing and runtime skew-join splitting:
  *    the first line of defense against skew/mis-sized shuffles at 100 TB
  *  - shuffle partitions sized to the cluster (cores locally; on a real
  *    cluster pass ~2-3× total executor cores)
  *  - 128 MiB scan partitions (parquet row-group aligned)
  *  - UTC session timezone (oracle comparability and sane timestamps)
  */
object GraftSession {
  def build(master: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // scale knobs, env-overridable so the sf10/sf30 rehearsals can measure
      // alternatives (guide §2.3 zstd, §6 split sizing) without forking the
      // session; the defaults are the session's historical values, so a
      // driver bench (which sets neither) is unaffected. Production-scale
      // guidance from the r16 measurements lives in OPTIMIZATION_r16.md.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES",
          (128L * 1024 * 1024).toString))
      // write TIMESTAMP(MICROS), not the INT96 legacy default: INT96 has no
      // usable min/max stats (no row-group pruning on time predicates) and
      // isn't annotated, so footer-driven readers can't negotiate it
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .tap(graft.functions.GraftFunctions.register)

  /** Local session sized from SPARK_GRAFT_CPUS (driver harness contract). */
  def local(): SparkSession = {
    val cpus = localCpus(sys.env)
    build(s"local[$cpus]", cpus)
  }

  /** SPARK_GRAFT_CPUS when set, else the host's processor count. */
  private[graft] def localCpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
}
