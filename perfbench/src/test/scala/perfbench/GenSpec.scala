package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer

class GenSpec extends AnyFunSuite {
  private def corpus(seed: Long) = Gen.rows(seed, 0, 60).toVector

  test("the same seed gives the same corpus; another seed a different one") {
    assert(corpus(7) == corpus(7))
    assert(corpus(7) != corpus(8))
    assert(corpus(7).map(_.text) != corpus(8).map(_.text))
  }

  test("a row does not depend on the range it is generated in") {
    assert(Gen.rows(7, 10, 20).toVector == corpus(7).filter(t => t.conv_id >= Gen.convId(10) &&
      t.conv_id < Gen.convId(20)))
  }

  test("corpus shape follows FIXTURES.md: turns, role cycle, tools, token counts, ts") {
    val rows = corpus(7)
    val convs = rows.groupBy(_.conv_id)
    assert(convs.values.forall(c => (2 to 16).contains(c.size)))
    assert(convs.values.forall(c => c.map(_.turn_idx).sorted == (0 until c.size)))
    for (c <- convs.values; Seq(a, b) <- c.sortBy(_.turn_idx).sliding(2)) {
      assert((Gen.Roles.indexOf(a.role) + 1) % 3 == Gen.Roles.indexOf(b.role))
      assert(b.ts.getTime - a.ts.getTime == 30000L)
    }
    assert(rows.forall(t => t.tool.isDefined == (t.role == "tool")))
    assert(rows.flatMap(_.tool).toSet.subsetOf((0 until Gen.Tools).map("tool" + _).toSet))
    assert(rows.forall(t => (Gen.MinTokens to Gen.MaxTokens).contains(Analyzer.tokenize(t.text).length)))
  }

  test("query streams are seeded, rotate the classes, and are cut from corpus turns") {
    val q = Gen.queries(7, 0, 400, 60)
    assert(q == Gen.queries(7, 0, 400, 60))
    assert(q != Gen.queries(8, 0, 400, 60))
    assert(q != Gen.queries(7, 1, 400, 60))
    assert(q.map(_.k).toSet == Set(10, 100))
    assert(q.forall(x => (1 to 6).contains(Analyzer.tokenize(x.text).length)))
    assert(q.filter(_.kind == "phrase").forall(x => Analyzer.tokenize(x.text).length >= 2))
    assert(q.filter(_.kind == "bool").forall(_.role.isDefined))
    val texts = corpus(7).map(t => " " + Analyzer.tokenize(t.text).mkString(" ") + " ")
    assert(q.filter(_.kind == "phrase").forall(x => texts.exists(_.contains(" " + x.text + " "))))
    assert(q.filter(_.kind == "and").forall(x =>
      texts.exists(t => Analyzer.tokenize(x.text).forall(w => t.contains(" " + w + " ")))))
  }

  test("the first four queries of every stream hold one query of each class") {
    for (seed <- 1L to 50L; stream <- Seq(0L, 3L))
      assert(Gen.queries(seed, stream, 4, 60).map(_.kind) == Gen.Kinds)
  }

  test("ingest plans are seeded, prefix-stable, and track the live corpus") {
    def plan(seed: Long, n: Int) = Gen.ingestPlan(seed, n, 20, 0.05, 0.05, 5)
    val p = plan(7, 6)
    assert(p == plan(7, 6))
    assert(p.batches != plan(8, 6).batches)
    assert(plan(7, 3).batches == p.batches.take(3))
    assert(p.batches.forall(_.queries.size == 5))
    assert(p.batches.drop(1).exists(_.upserts > 0) && p.batches.exists(_.deletes.nonEmpty))
    // replay: last write wins, deletes remove
    var live = Map.empty[(String, Int), graft.model.Turn]
    for (b <- p.batches) {
      b.rows.foreach(t => live += (t.conv_id, t.turn_idx) -> t)
      b.deletes.foreach { case (c, t) => live -= ((Gen.convId(c), t)) }
    }
    assert(p.liveRows(7).map(t => (t.conv_id, t.turn_idx) -> t).toMap == live)
  }
}
