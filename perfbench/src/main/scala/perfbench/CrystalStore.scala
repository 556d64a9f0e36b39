package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.schema.{CrystalSchema, SchemaOps}
import graft.sources.ParquetDatabase

/** `crystal-store`: the ParquetDB surface on nested crystal records.
  *
  * The warm-up creates the table from `BaseBatches` generated batches and
  * runs one tick. One cycle is a tick: a `create` of one batch, conformed
  * to `CrystalSchema.schema`, an `upsert` of a few keys, a `deleteWhere` of
  * as many rows as the batch added (so the table keeps its size and every
  * tick does the same work), then reads: two point, two range, one nested
  * projection and one `readSnapshot`. Every third tick runs
  * `compactSmallFiles` and `snapshot` with retention; a run measures whole
  * rounds of three ticks (at least two), so every run holds the same share
  * of maintenance ticks. After the window, `normalize` and `recover()` run
  * and the final table and the newest snapshot are checked against the
  * benchmark's own model of the live rows. */
final class CrystalStore(inputs: String, work: String, seed: Long) extends Workload {
  val Batches: Int = new java.io.File(inputs).list().count(_.startsWith("batch-"))
  val BatchRows = 128
  val BaseBatches = 8
  val UpsertKeys = 6
  val ReadsPerKind = 2
  val MaintainEvery = 3
  val KeepSnapshots = 3
  val CompactTargetBytes: Long = 4L << 20

  /** Model of one live row: what the checks expect to read back. */
  final case class Row(sourceId: String, bandGap: Double, sites: Int)

  private var spark: SparkSession = _
  private val rng = new scala.util.Random(seed)
  private var nextBatch = 0
  private val live = mutable.LinkedHashMap.empty[Long, Row]
  private var snapModel: (String, Map[Long, Row]) = ("", Map.empty)
  private var inputBytes = 0L
  private var rowsCreated = 0L
  private val readChecks = mutable.ArrayBuffer.empty[String]
  private var db: ParquetDatabase = _
  private var tick = 0
  private var warmTicks = 0

  private def batchPath(i: Int) = f"$inputs/batch-$i%03d.parquet"
  private def batch(i: Int) = spark.read.parquet(batchPath(i))
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The rows `create(assignId = true)` will write, keyed by the id it assigns. */
  private def modelRows(df: DataFrame): Seq[(Long, Row)] = {
    val c = SchemaOps.conformToSchema(df, CrystalSchema.schema)
    c.select(xxhash64(c.columns.map(n => col(s"`$n`")): _*), col("source_id"),
      col("data.band_gap"), size(col("structure.sites")))
      .collect().toSeq.map(r => r.getLong(0) -> Row(r.getString(1), r.getDouble(2), r.getInt(3)))
  }

  private def keyHash(ids: Iterable[Long]): Long = ids.foldLeft(0L)((x, id) => x ^ XXH64.hashLong(id, 42L))
  private def checksum(rows: Iterable[Row]): Long =
    rows.map(r => math.round(r.bandGap * 10000) + 7L * r.sites).sum

  /** (count, key-set hash, value checksum) of a table read. */
  private def summary(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("id"))),
      sum(round(col("data.band_gap") * 10000).cast("long") + size(col("structure.sites")) * 7L))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def expect(what: String, got: (Long, Long, Long), rows: Map[Long, Row]): Boolean = {
    val want = (rows.size.toLong, keyHash(rows.keys), checksum(rows.values))
    if (got != want) readChecks += s"$what: got $got want $want"
    got == want
  }

  def prepare(s: SparkSession, rep: Int): Unit = {
    spark = s
    val p = new ParquetDatabase(spark, s"$work/crystal/prep$rep")
    p.create(batch(Batches - 1), target = Some(CrystalSchema.schema), assignId = true)
    p.read().count()
  }

  /** Create `n` batches in one call; returns the rows added. */
  private def ingest(h: Harness, n: Int): Int = {
    val bs = nextBatch until nextBatch + n
    nextBatch += n
    val in = spark.read.parquet(bs.map(batchPath): _*)
    val rows = modelRows(in)
    inputBytes += bs.map(b => new java.io.File(batchPath(b)).length()).sum
    h.must("sources.ParquetDatabase.create") {
      db.create(in, target = Some(CrystalSchema.schema), assignId = true)
    }
    rows.foreach { case (id, r) => live(id) = r }
    rowsCreated += rows.size
    rows.size
  }

  private def oneTick(h: Harness): Boolean = {
    if (nextBatch >= Batches - 1) return false
    val added = ingest(h, 1)

    // upsert: the chosen rows again, band gap raised by one, same ids
    val keys = live.keys.toIndexedSeq
    val up = rng.shuffle(keys).take(UpsertKeys)
    val bySource = up.map(id => live(id).sourceId -> id).toMap
    val patchSrc = spark.read.parquet(up.map(id => live(id).sourceId).distinct
      .map(sid => batchPath(sid.stripPrefix("cr-").toInt / BatchRows)).distinct: _*)
      .filter(col("source_id").isin(bySource.keys.toSeq: _*))
    val newGap = spark.createDataFrame(up.map(id => (live(id).sourceId, id, live(id).bandGap + 1.0)))
      .toDF("source_id", "id", "new_gap")
    val patch = SchemaOps.conformToSchema(patchSrc, CrystalSchema.schema)
      .join(newGap, Seq("source_id"))
      .withColumn("data", col("data").withField("band_gap", col("new_gap")))
      .drop("new_gap")
    h.must("sources.ParquetDatabase.upsert")(db.upsert(patch, "id"))
    up.foreach(id => live(id) = live(id).copy(bandGap = live(id).bandGap + 1.0))

    val del = rng.shuffle(live.keys.toIndexedSeq).take(added)
    h.must("sources.ParquetDatabase.deleteWhere")(db.deleteWhere(col("id").isin(del: _*)))
    del.foreach(live.remove)

    (0 until ReadsPerKind).foreach { _ =>
      val probe = rng.shuffle(live.keys.toIndexedSeq).head
      val got = h.must("sources.ParquetDatabase.read", "point") {
        db.read(Seq("id", "source_id", "data"), Some(col("id") === probe))
          .select("source_id", "data.band_gap").collect()
      }
      if (!(got.length == 1 && got(0).getString(0) == live(probe).sourceId &&
        got(0).getDouble(1) == live(probe).bandGap)) readChecks += s"point read of $probe"

      val lo = rng.nextDouble() * 2.0
      val n = h.must("sources.ParquetDatabase.read", "range") {
        db.read(Seq("id", "data"), Some(col("data.band_gap").between(lo, lo + 0.5))).select("id").collect().length
      }
      val want = live.values.count(r => r.bandGap >= lo && r.bandGap <= lo + 0.5)
      if (n != want) readChecks += s"range read [$lo, ${lo + 0.5}]: got $n want $want"
    }

    h.must("sources.ParquetDatabase.read", "nested") {
      noop(db.read(Seq("id", "lattice", "structure", "symmetry"))
        .select(col("id"), col("lattice.volume"), col("structure.sites.species"),
          col("structure.sites.properties.magmom"), col("symmetry.crystal_system")))
    }

    if (tick % MaintainEvery == 0) {
      h.must("sources.ParquetDatabase.compactSmallFiles")(db.compactSmallFiles(CompactTargetBytes))
      val tag = f"t$tick%04d"
      h.must("sources.ParquetDatabase.snapshot")(db.snapshot(tag, maxCount = KeepSnapshots))
      snapModel = (tag, live.toMap)
    }
    val (tag, model) = snapModel
    val snapN = h.must("sources.ParquetDatabase.readSnapshot")(db.readSnapshot(tag).count())
    if (snapN != model.size) readChecks += s"readSnapshot($tag): got $snapN want ${model.size}"
    tick += 1
    true
  }

  def warmup(h: Harness): Unit = {
    db = new ParquetDatabase(spark, s"$work/crystal/db")
    h.call("warmup.base")(ingest(h, BaseBatches))
    h.call("warmup.tick")(oneTick(h))
    // rates and write amplification count the measured ticks only
    inputBytes = 0; rowsCreated = 0; warmTicks = tick
  }

  def measure(h: Harness, seconds: Double, trace: Boolean): Unit =
    h.loop(seconds, trace, minCycles = 2 * MaintainEvery, round = MaintainEvery,
      maxCycles = (Batches - 1 - nextBatch) / MaintainEvery * MaintainEvery)(_ => oneTick(h))

  private def treeBytes(dir: String): (Long, Int) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) (0L, 0)
    else {
      val it = fs.listFiles(p, true)
      var bytes = 0L; var files = 0
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; files += 1 }
      }
      (bytes, files)
    }
  }

  def finish(h: Harness, trace: Boolean): collection.Map[String, Any] = {
    val (liveBytes, liveFiles) = treeBytes(db.dir)
    val (archiveBytes, _) = treeBytes(s"${db.dir}__archive")
    val plain = s"$work/crystal/plain"
    db.read().write.parquet(plain)
    val (plainBytes, _) = treeBytes(plain)
    h.cycle = -2
    h.call("sources.ParquetDatabase.normalize")(db.normalize(maxRowsPerFile = 2000))
    h.call("sources.ParquetDatabase.recover")(db.recover())
    val finalOk = h.call("check.final")(
      expect("final read", summary(db.read()), live.toMap) &&
        expect(s"readSnapshot(${snapModel._1})", summary(db.readSnapshot(snapModel._1)), snapModel._2))
    mutable.LinkedHashMap[String, Any](
      "ticks" -> (tick - warmTicks), "rows_created" -> rowsCreated, "live_rows" -> live.size,
      "input_bytes" -> inputBytes, "live_bytes" -> liveBytes, "files_live" -> liveFiles,
      "archive_bytes" -> archiveBytes, "plain_bytes" -> plainBytes,
      // the table's footprint (live files plus files pinned by snapshots)
      // over the same live rows written once
      "space_amp" -> (liveBytes + archiveBytes).toDouble / math.max(1L, plainBytes),
      "final_check_ok" -> finalOk.contains(true), "read_check_failures" -> readChecks.toSeq)
  }
}
