package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins [[Bench.timed]], the derived timed query set (no Spark session:
 * only the contract's key set is read). Every contract query is timed
 * unless [[Bench.excluded]] names it with a reason, and the scale-run
 * query lists can never name a query the bench would silently drop.
 */
class BenchSpec extends AnyFunSuite {

  private val contract = SparkEntry.queries.keySet

  test("the timed set is the contract minus the exclusions: 257 names, sorted") {
    assert(Bench.timed.toSet == contract -- Bench.excluded.keySet)
    assert(Bench.timed.size == 257)
    assert(Bench.timed == Bench.timed.sorted)
  }

  test("every exclusion is a real contract query with a reason") {
    Bench.excluded.foreach { case (name, reason) =>
      assert(contract(name), s"$name is not a contract query")
      assert(reason.trim.nonEmpty, s"$name has no reason")
    }
  }

  test("every scale-run query list names only timed queries") {
    val timed = Bench.timed.toSet
    for (list <- Seq("tools/sfx1_queries.txt", "tools/sfx10_queries.txt",
        "tools/sfx10_isolated_kernels.txt")) {
      val names = Files.readAllLines(Paths.get(list)).toArray(Array.empty[String])
        .map(_.trim).filter(_.nonEmpty)
      assert(names.nonEmpty, s"$list is empty")
      val dropped = names.filterNot(timed)
      assert(dropped.isEmpty, s"$list names untimed queries: ${dropped.mkString(", ")}")
    }
  }
}
