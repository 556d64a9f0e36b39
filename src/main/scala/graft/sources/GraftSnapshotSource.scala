package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Read-option surface for snapshot time travel — reaches
  * [[ParquetDatabase.readSnapshot]] semantics WITHOUT the Scala API:
  *
  * {{{
  *   spark.read.format("graft-snapshot")
  *     .option("snapshot", "d3").load("/tables/orders")
  *   // or pure SQL:
  *   CREATE TEMPORARY VIEW orders_asof
  *     USING `graft-snapshot` OPTIONS (path '/tables/orders', snapshot 'd3')
  * }}}
  *
  * The provider resolves the tag's PINNED FILE LIST (live dir first, then
  * archive) and delegates to Spark's own V2 [[ParquetTable]] over exactly
  * those files — so the scan is the stock vectorized parquet reader with
  * full filter pushdown, column pruning, and row-group skipping; nothing
  * is re-implemented. The schema is `read()`'s: a flat snapshot's is merged
  * from the pinned files' footers and handed to the table, so resolving it
  * runs no job; partitioned snapshots, and option sets that change which
  * files are read or how the schema is inferred, keep Spark's `mergeSchema`
  * inference (on by default).
  *
  * Partition-column recovery needs one shared `basePath`, so a snapshot of
  * a hive-PARTITIONED table whose pinned files span live + archive cannot
  * be expressed as a single V2 table — that one shape errors loudly and
  * points at `readSnapshot` (which unions a per-root pair of scans).
  */
class GraftSnapshotSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  override def supportsExternalMetadata(): Boolean = false

  private def delegate(options: CaseInsensitiveStringMap): ParquetTable = {
    val spark = SparkSession.active
    val dir = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot: table directory missing — .load(dir) or OPTIONS (path '…')"))
    val tag = Option(options.get("snapshot")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot: .option(\"snapshot\", tag) is required (available tags: " +
          s"${new ParquetDatabase(spark, dir).snapshots.mkString(", ")})"))
    val db = new ParquetDatabase(spark, dir)
    val (liveRels, archRels) = db.resolveSnapshot(tag)
    val partitioned = (liveRels ++ archRels).exists(_.contains("/"))
    val base =
      if (archRels.isEmpty) Some(dir)
      else if (liveRels.isEmpty) Some(db.archiveRoot.toString)
      else if (!partitioned) None // flat files need no shared base
      else throw new IllegalArgumentException(
        s"graft-snapshot: snapshot '$tag' of the partitioned table $dir spans live + " +
          "archive roots, which a single-basePath scan cannot express — use " +
          "ParquetDatabase.readSnapshot for this shape")
    val files = liveRels.map(r => s"$dir/$r") ++
      archRels.map(r => s"${db.archiveRoot}/$r")
    val opts = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    opts.remove("path"); opts.remove("snapshot")
    val schema =
      if (partitioned) None
      else db.footerSchema(files, opts.asScala.toMap ++ base.map("basePath" -> _))
    opts.putIfAbsent("mergeSchema", "true")
    base.foreach(b => opts.put("basePath", b))
    ParquetTable(s"graft-snapshot $dir@$tag", spark,
      new CaseInsensitiveStringMap(opts), files, schema, classOf[ParquetFileFormat])
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    delegate(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    delegate(new CaseInsensitiveStringMap(properties))
}
