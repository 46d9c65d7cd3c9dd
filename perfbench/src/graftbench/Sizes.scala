package graftbench

/** Input sizes and nominal op times. A run of `--seconds s` makes a fixed
  * number of ops, about s ÷ the nominal op time, in whole cycles (a query
  * round, a compaction cycle), so every run of a workload does the same
  * work and its counts repeat exactly.
  */
object Sizes {
  val replIncrementalSf = 0.02
  val replIncrementalOpS = 3.0
  val analyticsSf = 0.01
  val analyticsRoundS = 12.0
  val streamSf = 0.01
  val streamOpS = 5.0
  val streamDocOps = 10
  val streamCdcRows = 100
}
