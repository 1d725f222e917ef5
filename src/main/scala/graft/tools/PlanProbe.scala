package graft.tools

/** One-line join/exchange summary per named query — the quick audit for
  * "did the small side actually broadcast" (complements the plan lint
  * that [[Sweep]]'s `twice` mode runs, which flags anti-patterns but not
  * missed intent). Usage:
  * `runMain graft.tools.PlanProbe q86_boilerplate q93_curate_corpus`. */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- args) {
      val df = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.01")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val joins = p.linesIterator.filter(l =>
        l.contains("Join") || l.contains("BroadcastExchange") || l.contains("ShuffleExchange"))
        .map(_.trim.takeWhile(_ != '(')).toSeq
      println(s"[probe] $q: ${joins.mkString(" | ")}")
    }
    spark.stop()
  }
}
