package graft.cdcbench

import graft.Replication

/** What a workload leaves for the metric block. */
final case class Result(stateBytes: Long, stateDirs: Seq[String])

/** Output checks against the benchmark's own reference. */
object Checks {
  /** The served state of `t` equals the model: row count and an
    * order-independent row hash. */
  def state(run: Run, t: Table, stateDir: String, expected: Expected): Unit = {
    val t0 = System.nanoTime()
    // a check that throws leaves the output unverified: that fails the run
    if (run.op(s"check ${t.name}") {
      val got = Model.digestOf(Replication.appliedState(run.spark, stateDir), t)
      val want = expected.digest(t, dropOne = run.wrongExpectation)
      if (got != want) run.mismatch(
        s"${t.name}: served $got, expected $want")
    }.isEmpty) run.wrong.add(s"${t.name}: the output check threw")
    run.add("check_s", (System.nanoTime() - t0) / 1e9)
  }
}
