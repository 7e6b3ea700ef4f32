package graft.tools

/** Machine-derived ledger counts for tools/update_ledger.sh, which
  * regenerates the README/COVERAGE totals from the build itself — the
  * round-13 ledger ("706 specs") was correct only because a hand edit
  * kept it correct, and a hand-kept count WILL drift. No SparkSession:
  * the query registry holds functions, so constructing it is free.
  * (oracleSql is deliberately NOT counted here: its captured-model
  * entries only materialize after a Verify run, so its static size
  * undercounts — the driver's CORRECTNESS gate is the authority on
  * per-query oracle coverage.) */
object LedgerCounts {
  def main(args: Array[String]): Unit = {
    println(s"graft-ledger queries=${graft.SparkEntry.queries.size}")
  }
}
