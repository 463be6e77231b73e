package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Seed discipline: a seed fixes the generated inputs and op sequences
  * byte for byte, and another seed changes them. */
class SeedSpec extends AnyFunSuite {
  private def docsBytes(seed: Long): String =
    Docs.generate(seed, 0, 400).map(d => s"${d.rowkey}|${d.version}|${d.json}|${d.cells}").mkString("\n")

  private def ops(seed: Long): Seq[ServeOp] = {
    val plan = new ServePlan(Docs.generate(seed, 0, 500), seed)
    Seq.fill(300)(plan.next())
  }

  test("documents: same seed, same bytes; another seed, other bytes") {
    assert(docsBytes(7) == docsBytes(7))
    assert(docsBytes(7) != docsBytes(8))
  }

  test("a slice of the document stream equals the same slice of a longer one") {
    assert(Docs.generate(3, 100, 200) == Docs.generate(3, 0, 300).slice(100, 200))
  }

  test("serve op stream: same seed, same ops; another seed, other ops") {
    assert(ops(11) == ops(11))
    assert(ops(11) != ops(12))
    assert(ops(11).map(_.kind).toSet ==
      Set("get", "multiget", "range", "prefix", "timerange", "index"))
  }

  test("olap pass order: fixed by seed and pass, changed by either") {
    val keys = (1 to 12).map(i => s"k$i")
    assert(Olap.order(keys, 5, 1) == Olap.order(keys, 5, 1))
    assert(Olap.order(keys, 5, 1).sorted == keys.sorted)
    assert(Olap.order(keys, 5, 1) != Olap.order(keys, 6, 1))
    assert(Olap.order(keys, 5, 1) != Olap.order(keys, 5, 2))
  }

  test("documents: depths 1 to 6, unique keys spread over regions, leaves present") {
    val docs = Docs.generate(1, 0, 2000)
    assert(docs.map(_.depth).toSet == (1 to 6).toSet)
    assert(docs.map(_.rowkey).distinct.size == docs.size)
    assert(docs.map(_.rowkey.head).toSet.size == 16)
    assert(docs.forall(d => d.cells.exists(_._1 == "tag") && d.cells.exists(_._1 == "name")))
  }
}
