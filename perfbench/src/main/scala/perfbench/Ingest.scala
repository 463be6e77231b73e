package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CellFlatten
import graft.sources.cell.{CellFooterCache, GraftCellMaintenance}

/** json2hbase's whole job, end to end: JSON text → `parse_json` →
  * `CellFlatten.flattenVariant` → graftcell append, in `batches`
  * sequential batches into a fresh store, then one compaction. */
final class Loader(spark: SparkSession, rec: Recorder) {
  import spark.implicits._

  /** Region size: writers roll to a new sorted region file every this
    * many cells (HBase split-on-size), so stores have many region files
    * for scans to prune. */
  private val region = Map("maxRowsPerFile" -> "2000")

  def frame(docs: Seq[Doc]): DataFrame =
    docs.map(d => (d.rowkey, d.version, d.json)).toDF("rowkey", "version", "json")
      .select(col("rowkey"), col("version"), parse_json(col("json")).as("v"))

  /** One batch: flatten (one job per nesting level) and append. */
  def append(store: String, docs: Seq[Doc]): Unit = {
    val cells = rec.span("CellFlatten") {
      CellFlatten.flattenVariant(frame(docs), "d", "perfbench")
    }
    rec.span("GraftCellWrite") {
      cells.write.format("graftcell").options(region).mode("append").save(store)
    }
  }

  /** Merge every batch of the store into one generation. */
  def compact(store: String): Unit = rec.span("GraftCellMaintenance") {
    GraftCellMaintenance.minorCompact(spark, store, Long.MaxValue, region)
  }

  def read(store: String): DataFrame = spark.read.format("graftcell").load(store)

  /** The store's cells equal `docs`' cells: the count over the whole
    * store, and every cell of `sample` read back by key. */
  def verify(store: String, docs: Seq[Doc], sample: Seq[Doc]): Boolean = {
    val n = read(store).count()
    val want = docs.map(_.cells.size.toLong).sum
    if (n != want) {
      System.err.println(s"[perfbench] store $store holds $n cells, generator made $want")
      return false
    }
    val got = read(store).filter(col("rowkey").isin(sample.map(_.rowkey): _*))
      .select("rowkey", "family", "qualifier", "version", "value").collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getLong(3).toString,
                    r.getString(4)).mkString("\u0001")).sorted.toSeq
    val exp = sample.flatMap(d => d.cells.map { case (q, v) =>
      Seq(d.rowkey, "d", q, d.version.toString, v).mkString("\u0001") }).sorted
    got == exp
  }
}

object Stores {
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(bytes).sum
    else f.length()

  def wipe(f: File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(wipe)
    f.delete(); ()
  }

  def files(store: String): Int = CellFooterCache.filesOf(store).size
}

/** Write-heavy workload: one driver thread loads the seed's documents
  * in `Batches` sequential batches into a fresh store, compacts it and
  * checks it; each set-up and each timed unit is one such round. The
  * timed op is one batch; compaction is timed on its own. */
final class Ingest(spark: SparkSession, rec: Recorder, seed: Long, work: File) extends Workload {
  val Batches = 8
  val PerBatch = 100
  private val loader = new Loader(spark, rec)
  private var docs: Vector[Doc] = Vector.empty
  private var round = 0
  val compactMs = collection.mutable.ArrayBuffer.empty[Double]
  val storeBytesPerCell = collection.mutable.ArrayBuffer.empty[Double]
  private var loadMs = 0.0
  private var loadedCells = 0L

  def sizes: String = s"$Batches batches x $PerBatch docs per round"

  private def freshStore(): String = {
    round += 1
    val f = new File(work, s"ingest_store_$round")
    Stores.wipe(f)
    f.getPath
  }

  def prepare(): Unit = {
    docs = Docs.generate(seed, 0, Batches * PerBatch)
    runRound(timed = false)
  }

  def warmup(): Unit = ()

  private def runRound(timed: Boolean): Unit = {
    val store = freshStore()
    docs.grouped(PerBatch).foreach { batch =>
      val t0 = System.nanoTime()
      val ok = if (timed) rec.op("batch") { loader.append(store, batch); true }
               else { loader.append(store, batch); true }
      if (timed && ok) {
        loadMs += (System.nanoTime() - t0) / 1e6
        loadedCells += batch.map(_.cells.size.toLong).sum
      }
    }
    val t0 = System.nanoTime()
    if (timed) rec.op("compact") { loader.compact(store); true }
    else loader.compact(store)
    val cms = (System.nanoTime() - t0) / 1e6
    val r = new java.util.SplittableRandom(Docs.mix(seed + round))
    val sample = Vector.fill(8)(docs(r.nextInt(docs.size))).distinct
    if (timed) {
      compactMs += cms
      rec.check(s"ingest round $round") { loader.verify(store, docs, sample) }
      val cells = docs.map(_.cells.size.toLong).sum
      storeBytesPerCell += Stores.bytes(new File(store)).toDouble / cells
    }
    Stores.wipe(new File(store))
    CellFooterCache.invalidate(store)
  }

  /** One round (~6 s on 4 cores) per 6 s of `seconds`. */
  def measure(seconds: Double): Unit =
    (1 to Stats.units(seconds, 6)).foreach(_ => runRound(timed = true))

  def named: Seq[(String, Double, String)] = Seq(
    ("ingest_cells_per_s", loadedCells / (loadMs / 1e3), "cells/s"),
    ("compact_s", Stats.median(compactMs.toSeq) / 1e3, "s"),
    ("store_bytes_per_cell", Stats.median(storeBytesPerCell.toSeq), "B"))

  private var writeLayers = Map.empty[String, Double]
  def layers(ops: Seq[OpRec]): Map[String, Double] = writeLayers

  override def layout(): Unit = {
    writeLayers = WriteLayers.traced(rec, loader, freshStore(), docs, PerBatch)
  }
}

/** The write path's per-layer metrics, from one traced load: each batch
  * and the closing compaction is an op, and the store's files and bytes
  * are listed after each (listings are outside the ops). */
object WriteLayers {
  def traced(rec: Recorder, loader: Loader, store: String, docs: Seq[Doc],
             perBatch: Int): Map[String, Double] = {
    val first = rec.ops.size
    var files = 0; var bytes = 0L
    val fs = collection.mutable.ArrayBuffer.empty[Double]
    val bs = collection.mutable.ArrayBuffer.empty[Double]
    docs.grouped(perBatch).foreach { batch =>
      rec.op("batch") { loader.append(store, batch); true }
      CellFooterCache.invalidate(store)
      val f = Stores.files(store); val b = Stores.bytes(new File(store))
      fs += (f - files).toDouble; bs += (b - bytes).toDouble
      files = f; bytes = b
    }
    rec.op("compact") { loader.compact(store); true }
    CellFooterCache.invalidate(store)
    val filesOut = Stores.files(store).toDouble
    val bytesOut = CellFooterCache.filesOf(store).map(_.bytes).sum.toDouble
    Stores.wipe(new File(store))
    CellFooterCache.invalidate(store)

    val ops = rec.ops.drop(first).toSeq
    val batches = ops.filter(_.kind == "batch")
    val compacts = ops.filter(_.kind == "compact")
    import Stats.mean
    def spanMs(r: OpRec, name: String) = r.spans.filter(_._1 == name).map(_._2.ms).sum.toDouble
    def stages(r: OpRec, span: String) = rec.stagesOf(r, span)
    Map(
      "CellFlatten.levels" -> mean(batches.map(b => (b.jobs.count(_.span == "CellFlatten") - 1).toDouble)),
      "CellFlatten.flatten_s" -> mean(batches.map(spanMs(_, "CellFlatten") / 1e3)),
      "CellFlatten.cells_per_doc" -> docs.map(_.cells.size.toDouble).sum / docs.size,
      "GraftCellWrite.shuffle_write_bytes" -> mean(batches.map(stages(_, "GraftCellWrite").map(_.shuffleWrite).sum.toDouble)),
      "GraftCellWrite.spill_bytes" -> mean(batches.map(stages(_, "GraftCellWrite").map(_.spill).sum.toDouble)),
      "GraftCellWrite.task_s" -> mean(batches.map(stages(_, "GraftCellWrite").map(_.runMs).sum / 1e3)),
      "GraftCellWrite.files_per_batch" -> mean(fs.toSeq),
      "GraftCellWrite.bytes_per_batch" -> mean(bs.toSeq),
      "GraftCellWrite.commit_ms" -> mean(batches.flatMap { b =>
        val end = b.spans.find(_._1 == "GraftCellWrite").map(_._2.end)
        val last = stages(b, "GraftCellWrite").map(_.lastTaskEnd)
        end.filter(_ => last.nonEmpty).map(e => (e - last.max).toDouble)
      }),
      "GraftCellMaintenance.files_in" -> files.toDouble,
      "GraftCellMaintenance.files_out" -> filesOut,
      "GraftCellMaintenance.bytes_rewritten" -> bytesOut,
      "GraftCellMaintenance.task_s" -> mean(compacts.map(stages(_, "GraftCellMaintenance").map(_.runMs).sum / 1e3)))
  }
}
