package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator of the tables the olap keys read (`orders
  * lineitem events documents embeddings`), with the columns, types and
  * value domains the query modules expect, at scale factor `sf` (sf 0.01
  * gives 15,000 orders, ~60,000 lineitems, 10,000 events and 500
  * documents and embeddings). Every column is a hash of the row id, so
  * the tables are identical on every run and every partitioning. */
object OlapData {

  private def sqlList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("array(", ",", ")")
  /** Uniform in [0, n) from the row id and a per-column salt. */
  private def u(salt: Int, n: Long, id: String = "id") = s"pmod(xxhash64($id, $salt), $n)"
  private def pick(salt: Int, xs: Seq[String], id: String = "id") =
    s"element_at(${sqlList(xs)}, cast(${u(salt, xs.size, id)} as int) + 1)"

  private val words = Seq("row", "the", "query", "stream", "value", "hash", "batch", "sort",
    "data", "big", "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a", "merge",
    "window", "order", "column", "join", "vector", "fast", "spark", "line", "small", "customer",
    "group")

  def tables(s: SparkSession, sf: Double): Map[String, DataFrame] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nEvents = n(1000000); val nDocs = n(50000)
    val nUsers = n(15000)
    def range(k: Long) = s.range(0, k, 1, 4)
    val orders = range(nOrders).selectExpr("id as o_orderkey",
      s"${u(41, nCust)} as o_custkey",
      s"${pick(42, Seq("F", "O", "P"))} as o_orderstatus",
      s"cast(${u(43, 49896489)} + 101370 as double) / 100 as o_totalprice",
      s"cast(timestamp_seconds(788918400 + ${u(44, 2404)} * 86400) as timestamp_ntz) as o_orderdate",
      s"${pick(45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} as o_orderpriority")
    val lineitem = orders.select(col("o_orderkey").as("okey"), col("o_orderdate"))
      .selectExpr("okey", "o_orderdate", s"explode(sequence(1, cast(${u(51, 7, "okey")} + 1 as int))) as ln")
      .selectExpr("okey * 8 + ln as id", "okey", "o_orderdate", "ln")
      .selectExpr("okey as l_orderkey",
        s"${u(52, nPart)} as l_partkey",
        s"${u(53, nSupp)} as l_suppkey",
        "ln as l_linenumber",
        s"cast(${u(54, 50)} + 1 as double) as l_quantity",
        s"round(cast(${u(54, 50)} + 1 as double) * (900 + cast(${u(55, 1100)} as double) / 10), 2) as l_extendedprice",
        s"cast(${u(56, 11)} as double) / 100 as l_discount",
        s"cast(${u(57, 9)} as double) / 100 as l_tax",
        s"${pick(58, Seq("R", "A", "N"))} as l_returnflag",
        s"${pick(59, Seq("O", "F"))} as l_linestatus",
        s"o_orderdate + make_interval(0, 0, 0, cast(${u(60, 120)} + 1 as int)) as l_shipdate")
    val events = range(nEvents).selectExpr("id as event_id",
      s"cast(timestamp_micros(1704067200000000 + id * ${(2592000000000L / nEvents)} + ${u(61, 2592000000000L / nEvents)}) as timestamp_ntz) as ts",
      s"${u(62, nUsers)} as user_id",
      s"${pick(63, Seq("click", "view", "purchase", "signup", "error"))} as event_type",
      s"cast(${u(64, 49002)} + 1 as double) / 100 as value",
      s"concat('{\"k\": ', ${u(65, 100)}, '}') as props")
    // one document in ten repeats an earlier one, so the dedup keys find work
    val documents = range(nDocs)
      .selectExpr("id as doc_id", s"if(${u(71, 10)} = 0 and id > 5, id - 1 - ${u(72, 5)}, id) as src")
      .selectExpr("doc_id",
        s"array_join(transform(sequence(1, cast(${u(73, 72, "src")} + 8 as int)), " +
          s"j -> element_at(${sqlList(words)}, cast(pmod(xxhash64(src, j, 74), ${words.size}) as int) + 1)), ' ') as text",
        s"${pick(75, Seq("en", "en", "en", "de", "es", "fr", "zh"), "src")} as lang",
        s"concat('src', ${u(76, 20, "doc_id")}) as source")
      .selectExpr("doc_id", "text", "lang", "source", "cast(length(text) as bigint) as n_chars")
    val embeddings = range(nDocs)
      .selectExpr("id as vec_id", s"cast(${u(81, 10)} as int) as label")
      .selectExpr("vec_id", "label",
        "transform(sequence(0, 63), j -> cast(pmod(xxhash64(label, j, 82), 2001) - 1000 as double) / 1000 + " +
          "cast(pmod(xxhash64(vec_id, j, 83), 2001) - 1000 as double) / 2500) as raw")
      .selectExpr("vec_id", "label", "sqrt(aggregate(raw, 0d, (a, x) -> a + x * x)) as norm", "raw")
      .selectExpr("vec_id", "cast(transform(raw, x -> x / norm) as array<float>) as embedding", "label")
    Map("orders" -> orders, "lineitem" -> lineitem, "events" -> events,
        "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Write every table as one parquet file under `dir`. */
  def write(s: SparkSession, sf: Double, dir: String): Unit =
    tables(s, sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
