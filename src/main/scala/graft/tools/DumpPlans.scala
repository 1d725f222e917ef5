package graft.tools

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` output for the named registered queries
  * to `<outDir>/<query><suffix>.txt` — the round's plan-evidence artifacts
  * (plans/rN/<query>_before.txt / _after.txt). Planning only, no jobs,
  * except that queries whose builders run eager sizing probes (head() on
  * an aggregate, localCheckpoint) execute those probe jobs as part of
  * building the final DataFrame — the dumped plan is the one the noop
  * sink would execute. Confs set through `SPARK_GRAFT_EXTRA_CONF` force
  * scale-gated paths, so a plan that only engages at large SF can be
  * evidenced from the small test dirs. Usage:
  *   DumpPlans <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: DumpPlans <sfDir> <outDir> <suffix> <q1,q2,...>" +
      " (confs go through SPARK_GRAFT_EXTRA_CONF)")
    val dir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val keys = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark: SparkSession = graft.core.GraftSession
      .builder(master = "local[8]", shufflePartitions = 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // A query whose dump fails must fail the INVOCATION (non-zero exit),
    // or a missing plan-evidence file goes unnoticed and a stale
    // before/after artifact gets mistaken for current (r14 ADVICE).
    var nFailed = 0
    keys.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"$name$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plans] wrote $name$suffix.txt (${txt.length} chars)")
      } catch {
        case e: Throwable =>
          nFailed += 1
          System.err.println(s"[plans] $name failed: $e")
      }
    }
    spark.stop()
    if (nFailed > 0) {
      System.err.println(s"[plans] $nFailed of ${keys.length} dumps FAILED")
      sys.exit(1)
    }
  }
}
