package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cell.GraftCell

/** The cell store's readers and writers take their Hadoop configuration
  * from one base parsed once per JVM ([[GraftCell.hadoopConf]]). Each
  * task must still own a private conf holding the defaults: the
  * vectorized reader carries its requested schema and row-group
  * predicate in that conf, so a shared or leaking one would hand one
  * partition another's projection or filter. */
class ConfIsolationSpec extends AnyFunSuite {
  private lazy val s = SparkFixture.spark

  private def entries(c: Configuration): Map[String, String] =
    c.asScala.map(e => e.getKey -> e.getValue).toMap

  test("two helper copies are independent: a key set on one is absent " +
       "from the next") {
    val key = "graft.conf.isolation.probe"
    val a = GraftCell.hadoopConf()
    a.set(key, "a")
    assert(GraftCell.hadoopConf().get(key) == null)
    val j = GraftCell.hadoopJobConf()
    assert(j.get(key) == null)
    j.set(key, "j")
    assert(GraftCell.hadoopConf().get(key) == null)
    assert(GraftCell.hadoopJobConf().get(key) == null)
    assert(a.get(key) == "a")
  }

  test("a helper copy holds every key/value pair of a fresh default " +
       "Configuration, and the caller's context class loader") {
    val fresh = entries(new Configuration())
    assert(fresh.size > 100, "the default resources were not loaded")
    for (copy <- Seq(GraftCell.hadoopConf(), GraftCell.hadoopJobConf())) {
      val got = entries(copy)
      val wrong = fresh.filter { case (k, v) => !got.get(k).contains(v) }
      assert(wrong.isEmpty, s"missing or different in the copy: " +
        wrong.keys.toSeq.sorted.take(10).mkString(", "))
      assert(copy.getClassLoader eq
        Thread.currentThread().getContextClassLoader)
    }
    // a copy taken on a thread with another context loader takes that one
    val loader = new java.net.URLClassLoader(Array.empty[java.net.URL],
      getClass.getClassLoader)
    var seen: ClassLoader = null
    val t = new Thread(() => seen = GraftCell.hadoopConf().getClassLoader)
    t.setContextClassLoader(loader)
    t.start()
    t.join()
    assert(seen eq loader)
  }

  private lazy val store: String = {
    val path = java.nio.file.Files
      .createTempDirectory("graft_conf_isolation_spec_").toString + "/store"
    val rows = (0 until 12000).map { i =>
      org.apache.spark.sql.Row(f"k$i%05d", s"f${i % 3}", s"q${i % 7}",
        java.lang.Long.valueOf((i % 500).toLong), f"v${i % 4000}%05d")
    }
    s.createDataFrame(rows.asJava, GraftCell.SCHEMA)
      .write.format("graftcell").option("maxRowsPerFile", 1500)
      .mode("overwrite").save(path)
    path
  }

  /** Scan shapes that differ in both projection and pushed filter. */
  private val shapes: Seq[(String, SparkSession => DataFrame)] = Seq(
    "point" -> (ss => ss.read.format("graftcell").load(store)
      .filter(col("rowkey") === "k07013").select("qualifier", "value")),
    "in" -> (ss => ss.read.format("graftcell").load(store)
      .filter(col("rowkey").isin("k00004", "k05555", "k11998"))
      .select("rowkey", "version")),
    "range" -> (ss => ss.read.format("graftcell").load(store)
      .filter(col("rowkey") >= "k03000" && col("rowkey") < "k03400")
      .select("family", "rowkey", "value")),
    "value" -> (ss => ss.read.format("graftcell").load(store)
      .filter(col("value") === "v01234").select("rowkey", "family")))

  private def rows(ss: SparkSession, q: SparkSession => DataFrame)
      : Seq[String] = {
    SparkSession.setActiveSession(ss)
    q(ss).collect().map(_.toString).toSeq.sorted
  }

  test("concurrent scans of one multi-file store with different " +
       "projections and pushed filters, vectorized and row decode, each " +
       "equal the same query run alone") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
      .iterator.asScala.count(_.toString.endsWith(".parquet"))
    assert(files >= 8, s"expected a multi-file store, got $files files")
    val sessions = Seq(true, false).map { vec =>
      val ss = s.newSession()
      ss.conf.set("spark.graft.cell.vectorized", vec.toString)
      vec -> ss
    }
    val prior = SparkSession.getActiveSession
    try {
      val alone = (for {
        (vec, ss) <- sessions
        (name, q) <- shapes
      } yield {
        SparkSession.setActiveSession(ss)
        val plan = q(ss).queryExecution.executedPlan.toString
        assert(plan.contains("batched: true") == vec,
          s"$name with vectorized=$vec planned:\n$plan")
        val r = rows(ss, q)
        assert(r.nonEmpty, s"$name matches nothing, so proves nothing")
        (vec, name) -> r
      }).toMap

      val jobs = for {
        _ <- 0 until 3
        (vec, ss) <- sessions
        (name, q) <- shapes
      } yield (vec, name, ss, q)
      val pool = Executors.newFixedThreadPool(jobs.size / 3)
      try {
        val start = new CountDownLatch(1)
        val futures = jobs.map { case (vec, name, ss, q) =>
          pool.submit(() => { start.await(); (vec, name, rows(ss, q)) })
        }
        start.countDown()
        futures.foreach { f =>
          val (vec, name, got) = f.get(300, TimeUnit.SECONDS)
          assert(got == alone((vec, name)),
            s"$name with vectorized=$vec differs when run concurrently")
        }
      } finally pool.shutdownNow()
    } finally prior match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None    => SparkSession.clearActiveSession()
    }
  }
}
