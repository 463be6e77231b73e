package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.cell.CellFooterCache

/** One read op of the serve mix. */
sealed trait ServeOp { def kind: String }
final case class Get(key: String) extends ServeOp { def kind = "get" }
final case class MultiGet(keys: Seq[String]) extends ServeOp { def kind = "multiget" }
final case class RangeScan(lo: String, hi: String, qualifier: String) extends ServeOp { def kind = "range" }
final case class PrefixScan(prefix: String, qualifier: String) extends ServeOp { def kind = "prefix" }
final case class TimeRange(lo: Long, hi: Long) extends ServeOp { def kind = "timerange" }
final case class IndexLookup(tag: String) extends ServeOp { def kind = "index" }

/** The seeded, Zipf-skewed op stream of the serve workload and each op's
  * answer, computed from the generated documents alone. */
final class ServePlan(docs: Vector[Doc], seed: Long) {
  private val byKey = docs.sortBy(_.rowkey)
  private val keys = byKey.map(_.rowkey)
  private val zipf = new Zipf(docs.size, 0.99, seed)
  private val tagZipf = new Zipf(Docs.Tags, 0.99, seed + 1)
  private val r = new SplittableRandom(Docs.mix(seed + 2))

  private def hot(): Doc = docs(zipf.sample(r))

  def next(): ServeOp = r.nextInt(100) match {
    case n if n < 30 => Get(hot().rowkey)
    case n if n < 50 => MultiGet(Seq.fill(4 + r.nextInt(13))(hot().rowkey).distinct)
    case n if n < 65 =>
      val i = keys.indexOf(hot().rowkey)
      RangeScan(keys(i), keys(math.min(keys.size - 1, i + 8 + r.nextInt(25))),
                if (r.nextBoolean()) "name" else "tag")
    case n if n < 75 => PrefixScan(hot().rowkey.take(2), "name")
    case n if n < 85 =>
      val v = hot().version
      TimeRange(v, v + 4 + r.nextInt(17))
    case _ => IndexLookup(Docs.tag(tagZipf.sample(r)))
  }

  /** Expected rows, each rendered as the op's projected columns. */
  def answer(op: ServeOp): Seq[String] = {
    def full(d: Doc) = d.cells.map { case (q, v) => Serve.row(d.rowkey, "d", q, d.version, v) }
    def proj(ds: Seq[Doc], qual: String) =
      ds.flatMap(d => d.cells.filter(_._1 == qual).map { case (_, v) => Serve.row(d.rowkey, v) })
    (op match {
      case Get(k) => docs.filter(_.rowkey == k).flatMap(full)
      case MultiGet(ks) => docs.filter(d => ks.contains(d.rowkey)).flatMap(full)
      case RangeScan(lo, hi, q) => proj(docs.filter(d => d.rowkey >= lo && d.rowkey < hi), q)
      case PrefixScan(p, q) => proj(docs.filter(_.rowkey.startsWith(p)), q)
      case TimeRange(lo, hi) =>
        docs.filter(d => d.version >= lo && d.version <= hi)
          .flatMap(d => d.cells.map { case (q, v) => Serve.row(d.rowkey, q, v) })
      case IndexLookup(t) =>
        docs.filter(_.cells.contains("tag" -> t)).map(d => Serve.row(d.rowkey, "d", "tag", d.version, t))
    }).sorted
  }
}

object Serve {
  def row(cols: Any*): String = cols.mkString("\u0001")
  def render(r: Row): String = row(r.toSeq: _*)
}

/** Read-heavy workload: one client in a closed loop issues the seed's op
  * stream against a store built in set-up through the ingest path (so a
  * write-layout change shows up as read latency), with a secondary
  * index on `(d, tag)` so value lookups route through `IndexRoute`. */
final class Serve(spark: SparkSession, rec: Recorder, seed: Long, work: File) extends Workload {
  val NDocs = 1500
  val Batches = 2
  private val loader = new Loader(spark, rec)
  private var docs: Vector[Doc] = Vector.empty
  private var table = ""
  private var builds = 0
  private def catalogRoot = spark.conf.get("spark.sql.catalog.graftcat.root")
  def store: String = new File(catalogRoot, table).getPath
  def indexStore: String = new File(catalogRoot, s"${table}_idx_tag").getPath

  def sizes: String = s"$NDocs docs in $Batches batches, index on (d, tag)"

  /** Build the store: create the table, load it batch by batch through
    * the ingest path, compact it, then index it. */
  def prepare(): Unit = {
    docs = Docs.generate(seed, 0, NDocs)
    if (table.nonEmpty) {
      spark.sql(s"DROP TABLE IF EXISTS graftcat.${table}_idx_tag")
      spark.sql(s"DROP TABLE IF EXISTS graftcat.$table")
    }
    builds += 1
    table = s"docs$builds"
    spark.sql(s"""CREATE TABLE graftcat.$table (
                    rowkey STRING, family STRING, qualifier STRING,
                    version BIGINT, value STRING) USING graftcell""")
    docs.grouped(NDocs / Batches).foreach(loader.append(store, _))
    loader.compact(store)
    CellFooterCache.invalidate(store)
    spark.sql(s"CALL graftcat.build_index('$table', 'tag', 'd', 'tag')").collect()
    ()
  }

  /** The first ops of a different stream, untimed: JIT and codegen. */
  def warmup(): Unit = {
    val plan = new ServePlan(docs, seed ^ 0x5eedL)
    (1 to 40).foreach(_ => run(plan, plan.next()))
  }

  private def frame(op: ServeOp): DataFrame = {
    val t = spark.table(s"graftcat.$table")
    op match {
      case Get(k) =>
        t.filter(col("rowkey") === k).select("rowkey", "family", "qualifier", "version", "value")
      case MultiGet(ks) =>
        t.filter(col("rowkey").isin(ks: _*)).select("rowkey", "family", "qualifier", "version", "value")
      case RangeScan(lo, hi, q) =>
        t.filter(col("rowkey") >= lo && col("rowkey") < hi && col("qualifier") === q)
          .select("rowkey", "value")
      case PrefixScan(p, q) =>
        t.filter(col("rowkey").startsWith(p) && col("qualifier") === q).select("rowkey", "value")
      case TimeRange(lo, hi) =>
        t.filter(col("version") >= lo && col("version") <= hi).select("rowkey", "qualifier", "value")
      case IndexLookup(tag) =>
        spark.sql(s"""SELECT rowkey, family, qualifier, version, value FROM graftcat.$table
                      WHERE family = 'd' AND qualifier = 'tag' AND value = '$tag'""")
    }
  }

  private def run(plan: ServePlan, op: ServeOp): Boolean = {
    val df = frame(op)
    val got = df.collect().map(Serve.render).sorted.toSeq
    rec.noteResult(df, got.size.toLong)
    val ok = got == plan.answer(op)
    if (!ok) System.err.println(s"[perfbench] $op returned ${got.size} rows, expected ${plan.answer(op).size}")
    ok
  }

  /** Closed loop for `seconds`, and at least 100 ops. */
  def measure(seconds: Double): Unit = {
    val until = System.nanoTime() + (seconds * 1e9).toLong
    val plan = new ServePlan(docs, seed)
    var n = 0
    while (System.nanoTime() < until || n < 100) {
      val op = plan.next()
      rec.op(op.kind)(run(plan, op))
      n += 1
    }
  }

  override def latencyKinds: Set[String] =
    Set("get", "multiget", "range", "prefix", "timerange", "index")

  def named: Seq[(String, Double, String)] = {
    def p(kinds: Set[String], q: Double) = Stats.quantile(rec.samples.filter(s => kinds(s._1)).map(_._2).toSeq, q)
    val all = rec.samples.map(_._2).toSeq
    Seq(
      ("get_p50_ms", p(Set("get", "multiget"), 0.5), "ms"),
      ("scan_p50_ms", p(Set("range", "prefix", "timerange"), 0.5), "ms"),
      ("index_p50_ms", p(Set("index"), 0.5), "ms"),
      ("serve_p90_ms", Stats.quantile(all, 0.9), "ms"),
      ("serve_ops_per_s", all.size / (all.sum / 1e3), "ops/s"))
  }

  /** The write path's layers: the set-up's store build, run once more,
    * traced, into a store of its own. */
  private var writeLayers = Map.empty[String, Double]
  override def layout(): Unit = {
    writeLayers = WriteLayers.traced(rec, loader, new File(work, "serve_layout_store").getPath,
      docs, NDocs / Batches)
  }

  def layers(ops: Seq[OpRec]): Map[String, Double] = {
    import Stats.mean
    val total = Stores.files(store).toDouble
    val withScan = ops.filter(_.scans.nonEmpty)
    val planned = withScan.map(_.scans.flatMap(_.files).distinct.size.toDouble)
    val scanned = withScan.map(_.scans.map(_.rowsOut).sum.toDouble)
    val index = ops.filter(_.kind == "index")
    def under(f: String, dir: String) = f.startsWith(dir + File.separator)
    Map(
      "GraftCellScan.files_planned" -> mean(planned),
      "GraftCellScan.files_total" -> total,
      "GraftCellScan.prune_ratio" -> mean(withScan.map(r =>
        1.0 - r.scans.flatMap(_.files).count(under(_, store)).toDouble / total)),
      "CellPartitionReader.rows_scanned" -> mean(scanned),
      "CellPartitionReader.rows_returned" -> mean(withScan.map(_.rows.toDouble)),
      "CellPartitionReader.useful_ratio" ->
        (if (scanned.sum == 0) 0.0 else withScan.map(_.rows.toDouble).sum / scanned.sum),
      "CellPartitionReader.bytes_read" -> mean(withScan.map(rec.stagesOf(_).map(_.bytesRead).sum.toDouble)),
      "CellPartitionReader.task_s" -> mean(withScan.map(rec.stagesOf(_).map(_.runMs).sum / 1e3)),
      "IndexRoute.routed_frac" -> mean(index.map(r =>
        if (r.scans.flatMap(_.files).exists(under(_, indexStore))) 1.0 else 0.0)),
      "IndexRoute.base_files_planned" -> mean(index.map(_.scans.flatMap(_.files).count(under(_, store)).toDouble))) ++
      writeLayers
  }
}
