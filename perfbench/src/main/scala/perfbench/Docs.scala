package perfbench

import java.util.SplittableRandom

/** One generated JSON document and the cells json2hbase must store for
  * it: `(qualifier, value)` per non-null leaf, in document order. */
final case class Doc(rowkey: String, version: Long, json: String,
                     cells: Vector[(String, String)]) {
  def depth: Int = Docs.depthOf(json)
}

/** Seeded generator of JSON text documents and of the cells the engine's
  * flatten must produce for them, computed without the engine.
  *
  * Documents are objects nested 1 to 6 levels deep (objects and arrays),
  * with string, integer, decimal, boolean and null leaves. Every
  * document has a top-level `tag` (one of [[Tags]] values, the indexed
  * qualifier) and `name` (the projected qualifier). Row keys are a hash
  * prefix, so consecutive documents land in different regions, plus the
  * document number, so they are unique. Leaf renderings are the ones the
  * engine's variant flatten prints: decimals never end in 0 and strings
  * need no JSON escaping. */
object Docs {
  val Tags = 40
  val VersionBase = 1700000000000000L

  def tag(i: Int): String = f"t$i%02d"

  /** A 64-bit mix (SplitMix64 finaliser): row keys and seeds derived
    * from it are identical on every JVM. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rowkey(seed: Long, i: Int): String =
    f"${mix(seed * 1000003L + i) >>> 32}%08x:$i%07d"

  /** Documents `from until to` of the stream for `seed`. Each document
    * draws from its own generator, so a slice equals the same slice of
    * a longer stream. */
  def generate(seed: Long, from: Int, to: Int): Vector[Doc] =
    (from until to).map(i => one(seed, i)).toVector

  private val words = Vector("amber", "basalt", "cedar", "delta", "ember",
    "fjord", "garnet", "harbor", "iris", "juniper", "kelp", "lumen")

  private def one(seed: Long, i: Int): Doc = {
    val r = new SplittableRandom(mix(seed ^ mix(i.toLong + 17)))
    val cells = Vector.newBuilder[(String, String)]
    val sb = new StringBuilder
    var fieldNo = 0
    def key(): String = { fieldNo += 1; s"${words(r.nextInt(words.size))}$fieldNo" }
    def leaf(q: String): Unit = r.nextInt(20) match {
      case n if n < 7 =>
        val v = words(r.nextInt(words.size)) + r.nextInt(1000)
        sb.append('"').append(v).append('"'); cells += q -> v
      case n if n < 12 =>
        val v = (r.nextLong(2000001L) - 1000000L).toString
        sb.append(v); cells += q -> v
      case n if n < 15 =>
        val cents = r.nextInt(9000) * 10 + 1 + r.nextInt(9)
        val v = (if (r.nextBoolean()) "-" else "") + s"${cents / 100}.${f"${cents % 100}%02d"}"
        sb.append(v); cells += q -> v
      case n if n < 18 =>
        val v = r.nextBoolean().toString
        sb.append(v); cells += q -> v
      case _ => sb.append("null")
    }
    def child(q: String, isArray: Boolean, k: String, idx: Int): String =
      if (isArray) s"$q[$idx]" else if (q.isEmpty) k else s"$q.$k"
    // a container of depth `d` (its leaves sit d levels below it)
    def container(q: String, d: Int): Unit = {
      val isArray = r.nextInt(5) < 2
      val n = 1 + r.nextInt(4)
      val deep = r.nextInt(n) // this child carries the full depth
      sb.append(if (isArray) '[' else '{')
      (0 until n).foreach { j =>
        if (j > 0) sb.append(',')
        val k = if (isArray) "" else key()
        if (!isArray) sb.append('"').append(k).append("\":")
        val cq = child(q, isArray, k, j)
        val cd = if (j == deep) d - 1 else r.nextInt(d)
        if (cd == 0) leaf(cq) else container(cq, cd)
      }
      sb.append(if (isArray) ']' else '}')
    }
    val depth = 1 + r.nextInt(6)
    val t = tag(r.nextInt(Tags))
    val name = words(r.nextInt(words.size)) + "-" + i
    sb.append("{\"tag\":\"").append(t).append("\",\"name\":\"").append(name).append('"')
    cells += "tag" -> t
    cells += "name" -> name
    (0 until 2 + r.nextInt(3)).foreach { j =>
      val k = key()
      sb.append(",\"").append(k).append("\":")
      if (j == 0 && depth > 1) container(k, depth - 1)
      else if (depth > 1 && r.nextBoolean()) container(k, 1 + r.nextInt(depth - 1))
      else leaf(k)
    }
    sb.append('}')
    Doc(rowkey(seed, i), VersionBase + i, sb.toString, cells.result())
  }

  /** Nesting depth of a generated document (object/array levels). */
  def depthOf(json: String): Int = {
    var d = 0; var max = 0; var inStr = false
    json.foreach {
      case '"' => inStr = !inStr
      case '{' | '[' if !inStr => d += 1; max = math.max(max, d)
      case '}' | ']' if !inStr => d -= 1
      case _ =>
    }
    max
  }
}

/** Zipf(s) sampler over ranks 0..n-1, with ranks mapped to items by a
  * seeded permutation so the popular items differ between seeds. */
final class Zipf(n: Int, s: Double, seed: Long) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private val perm: Array[Int] = {
    val a = Array.range(0, n)
    val r = new SplittableRandom(Docs.mix(seed))
    (n - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    perm(lo)
  }
}
