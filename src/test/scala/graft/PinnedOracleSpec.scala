package graft

/** Every VALUES-pinned oracle (deterministic fixture-pipeline goldens)
  * replayed through spark.sql and diffed against the live query at
  * sf0.01 — so a fixture/embedder/chunker drift fails `sbt test`
  * immediately instead of surfacing as a driver-side hash mismatch. */
class PinnedOracleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  // any oracle whose rows come from a VALUES list (with or without a
  // projection over it) — all must be plain ANSI SQL both engines parse.
  // The predicate is QuerySpec.pinned (single source of truth) so this
  // replay audits exactly the set the PINNED.md ContractSpec guards.
  private lazy val pinned: Map[String, String] =
    SparkEntry.specs.filter(_.pinned).map(q => q.name -> q.oracle).toMap

  test("pinned VALUES oracles match their live queries") {
    assert(pinned.nonEmpty)
    val failures = pinned.flatMap { case (name, sql) =>
      val live = SparkEntry.queries(name)(spark, dir)
      val cols = live.columns.sorted.toSeq
      val got = live.select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSeq
      val want = spark.sql(sql).select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSeq
      if (got == want) None
      else Some(s"$name:\n  got  $got\n  want $want")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
