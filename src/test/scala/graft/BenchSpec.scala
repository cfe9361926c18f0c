package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contention-suspect selection (the self-remediation rule)
  * — pure-function tests over synthetic timing shapes drawn from the
  * documented round-artifact failure modes (r3/r4/r6/r8 contamination).
  */
class BenchSpec extends AnyFunSuite {

  private val cleanProbes = IndexedSeq(0.10, 0.09, 0.11, 0.10)

  private def pick(names: Seq[String], t: Map[String, Double],
      m: Map[String, Double], at: Map[String, Int],
      probes: IndexedSeq[Double]): Seq[String] =
    Bench.suspectQueries(names, t, m, at, probes)

  test("clean run: nothing suspect") {
    val names = Seq("qa", "qb")
    val s = pick(names,
      Map("qa" -> 0.50, "qb" -> 1.20), Map("qa" -> 0.45, "qb" -> 1.10),
      Map("qa" -> 0, "qb" -> 1), cleanProbes)
    assert(s.isEmpty)
  }

  test("median >> min flags the query (r8: q57 burst inside its own passes)") {
    // r8 artifact: q57 median 35.3 s vs clean 0.35 s — min caught the
    // idle cost, median carried the burst
    val s = pick(Seq("q57", "q58"),
      Map("q57" -> 35.3, "q58" -> 0.10), Map("q57" -> 0.40, "q58" -> 0.09),
      Map("q57" -> 1, "q58" -> 1), cleanProbes)
    assert(s == Seq("q57"))
  }

  test("elevated bracketing probe flags the stretch, incl. the opening one") {
    // burst covering the first stretch: queries before the first
    // checkpoint have NO left probe — the elevated right probe must flag
    // them (elevation vs series min, not adjacent disagreement)
    val probes = IndexedSeq(0.80, 0.10, 0.11)
    val s = pick(Seq("q01", "q11", "q21"),
      Map("q01" -> 1.0, "q11" -> 1.0, "q21" -> 1.0),
      Map("q01" -> 0.9, "q11" -> 0.9, "q21" -> 0.9),
      Map("q01" -> 0, "q11" -> 1, "q21" -> 2), probes)
    // q01: right probe 0.80 elevated; q11: LEFT probe 0.80 elevated;
    // q21 sits between two clean probes
    assert(s == Seq("q01", "q11"))
  }

  test("mid-run burst agreeing across adjacent probes still flags") {
    // a burst spanning two checkpoints: probes 1 and 2 agree with each
    // other (spread 1.1x) but both sit far above the idle endpoints
    val probes = IndexedSeq(0.10, 0.55, 0.50, 0.10, 0.11)
    val s = pick(Seq("qa", "qb", "qc", "qd"),
      Map("qa" -> 0.3, "qb" -> 0.3, "qc" -> 0.3, "qd" -> 0.3),
      Map("qa" -> 0.3, "qb" -> 0.3, "qc" -> 0.3, "qd" -> 0.3),
      Map("qa" -> 1, "qb" -> 2, "qc" -> 3, "qd" -> 4), probes)
    // qa/qb sit inside the burst; qc's LEFT probe (0.50) still reads
    // elevated — the burst may have ended inside its stretch, so it
    // conservatively retimes; qd is bracketed by two clean probes
    assert(s == Seq("qa", "qb", "qc"))
  }

  test("0.05s absolute floor: tiny-query jitter never retimes") {
    // 3x spread on a 0.01 s query is scheduler noise, not contention
    val s = pick(Seq("qt"),
      Map("qt" -> 0.030), Map("qt" -> 0.010),
      Map("qt" -> 0), cleanProbes)
    assert(s.isEmpty)
  }

  test("failed queries are never retimed; empty probes don't throw") {
    val s = pick(Seq("qgone", "qok"),
      Map("qok" -> 10.0), Map("qok" -> 0.5),
      Map("qgone" -> 0, "qok" -> 0), IndexedSeq.empty)
    assert(s == Seq("qok"))
  }

  test("queries_counts: one entry per counted query in name order; a failed query has none") {
    val c = SparkCounts(jobs = 3, stages = 5, tasks = 12, inputBytes = 2500000L,
      shuffleWriteBytes = 125000L, jobsByLabel = Map("graft:x" -> 1))
    val json = Bench.countsJson(Seq("qb", "qfail", "qa\"x"),
      Map("qa\"x" -> c.copy(inputBytes = 0L, shuffleWriteBytes = 0L), "qb" -> c))
    assert(json ===
      """{"qb":{"jobs":3,"stages":5,"tasks":12,"input_mb":2.5,"shuffle_write_mb":0.125},""" +
      """"qa\"x":{"jobs":3,"stages":5,"tasks":12,"input_mb":0.0,"shuffle_write_mb":0.0}}""")
    assert(Bench.countsJson(Seq("qfail"), Map.empty) === "{}")
  }
}
