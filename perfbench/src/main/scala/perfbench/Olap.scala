package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession

/** Execution-heavy workload: existing `SparkEntry.queries` keys over
  * generated tables, each pass in a seed-permuted order, written to the
  * noop sink. `ingest` and `serve` bypass `Tables.fanout`; this mix
  * holds four of its call sites. */
final class Olap(spark: SparkSession, rec: Recorder, seed: Long, work: File,
                 expected: File, record: Boolean) extends Workload {
  val Sf = 0.002
  /** (module, key): the four `Tables.fanout` keys and three
    * shuffle-heavy relational keys. Each costs 0.3 to 1.5 s warm on 4
    * cores. */
  val Keys: Seq[(String, String)] = Seq(
    "Functions" -> "fn_math", "Functions" -> "fn_json",
    "Sources" -> "udtf_shingles", "Similarity" -> "sim_quantized",
    "Aggregates" -> "q1_pricing", "Windows" -> "win_sessionize",
    "Joins" -> "join_inner_smj")
  val FanoutKeys = Set("fn_math", "fn_json", "sim_quantized", "udtf_shingles")
  private val queries = graft.SparkEntry.queries
  private var dir = ""
  private var reps = 0

  def sizes: String = s"${Keys.size} keys at sf$Sf"

  def prepare(): Unit = {
    reps += 1
    val d = new File(work, s"olap_data_$reps")
    Stores.wipe(d)
    OlapData.write(spark, Sf, d.getPath)
    dir = d.getPath
  }

  /** Row count and order-insensitive digest of a key's full output. */
  private def digest(key: String): (Long, String) = {
    val rows = queries(key)(spark, dir).collect()
    val h = rows.foldLeft(0L)((acc, r) => acc + (MurmurHash3.stringHash(r.toString) & 0xffffffffL))
    (rows.length.toLong, java.lang.Long.toHexString(h))
  }

  private def loadExpected(): Map[String, (Long, String)] =
    if (!expected.isFile) Map.empty
    else Files.readAllLines(expected.toPath, UTF_8).asScala
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  /** Two untimed passes: the first checks each key's output against the
    * committed expected file (or records it), the second runs the keys
    * as the timed passes do. */
  def warmup(): Unit = {
    val want = loadExpected()
    val got = Keys.map { case (_, key) =>
      var out: (Long, String) = (0L, "")
      rec.check(s"olap $key output") {
        out = digest(key)
        record || want.get(key).contains(out)
      }
      if (!record && !want.get(key).contains(out))
        System.err.println(s"[perfbench] $key gave $out, expected ${want.get(key)}")
      key -> out
    }
    if (record) {
      val lines = s"# key\trows\tdigest (sum of MurmurHash3 of Row.toString), sf$Sf tables from OlapData" +:
        got.map { case (k, (n, h)) => s"$k\t$n\t$h" }
      Files.write(expected.toPath, lines.asJava, UTF_8)
    }
    Keys.foreach { case (_, key) => sink(key) }
  }

  private def sink(key: String): Unit =
    queries(key)(spark, dir).write.mode("overwrite").format("noop").save()

  /** Untraced per-key seconds, for the per-key figures. */
  private val keySeconds = collection.mutable.ArrayBuffer.empty[(String, Double)]
  private val passSeconds = collection.mutable.ArrayBuffer.empty[Double]

  /** One pass (~4 s on 4 cores) per 4 s of `seconds`. The op is one
    * key's run: seven samples a pass, so the median over a run's ops is
    * steady where one sample a pass was not. */
  def measure(seconds: Double): Unit =
    (1 to Stats.units(seconds, 4)).foreach { pass =>
      val p0 = System.nanoTime()
      Olap.order(Keys.map(_._2), seed, pass).foreach { key =>
        val t0 = System.nanoTime()
        rec.op(key) { rec.span(key)(sink(key)); true }
        if (!rec.tracing) keySeconds += key -> (System.nanoTime() - t0) / 1e9
      }
      if (!rec.tracing) passSeconds += (System.nanoTime() - p0) / 1e9
    }

  override def latencyKinds: Set[String] = Keys.map(_._2).toSet

  private def perKeyMedian(xs: Seq[(String, Double)]): Map[String, Double] =
    xs.groupBy(_._1).map { case (k, ys) => k -> Stats.median(ys.map(_._2)) }

  def named: Seq[(String, Double, String)] = {
    val perKey = perKeyMedian(keySeconds.toSeq)
    Seq(
      ("olap_mix_s", Stats.median(passSeconds.toSeq), "s"),
      ("olap_geomean_s", math.exp(perKey.values.map(math.log).sum / perKey.size), "s"))
  }

  def layers(ops: Seq[OpRec]): Map[String, Double] = {
    val perKey = perKeyMedian(ops.filter(_.ok).map(r => r.kind -> r.wallMs / 1e3))
    Keys.map(_._1).distinct.map { m =>
      s"olap.${m}_s" -> Keys.filter(_._1 == m).map(k => perKey.getOrElse(k._2, 0.0)).sum
    }.toMap + ("olap.fanout_keys_s" -> FanoutKeys.toSeq.map(perKey.getOrElse(_, 0.0)).sum)
  }
}

object Olap {
  /** The seed's key order for one pass (Fisher-Yates). */
  def order(keys: Seq[String], seed: Long, pass: Int): Seq[String] = {
    val r = new SplittableRandom(Docs.mix(seed * 31 + pass))
    val a = keys.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
