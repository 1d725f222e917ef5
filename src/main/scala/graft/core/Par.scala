package graft.core

import org.apache.spark.sql.DataFrame

/** Parallelism guard for compute-bound passes.
  *
  * Local corpus files often arrive as ONE split (a single parquet row
  * group, a gzipped CSV), which pins every downstream projection/explode to
  * one core until the first shuffle — Spark cannot re-split a partition
  * mid-stage. Operators whose leading stage is CPU-heavy (regex scrubbing,
  * n-gram explosion, vector math) fan their input out to the session
  * default parallelism first; inputs that already have enough partitions
  * pass through untouched, so on a real cluster — where a 100 TB table
  * arrives as thousands of splits — this is a no-op, and the operators'
  * shuffle topology claims hold exactly as documented.
  */
object Par {

  /** `df`, repartitioned to the session default parallelism iff it
    * currently has fewer partitions (one narrow round-robin exchange of
    * exactly the columns the caller selected); unchanged otherwise.
    *
    * The partition count comes from the NON-adaptive physical plan's RDD
    * DAG, which is built without materializing anything. The obvious
    * probe — `df.rdd.getNumPartitions` — goes through
    * AdaptiveSparkPlanExec under AQE, which MATERIALIZES every query
    * stage below the probe point to answer: harmless for the usual
    * scan+project input, but an input carrying an upstream exchange would
    * silently execute that whole shuffle once just to be counted (and a
    * LocalRelation input gets constant-folded on the driver per probe).
    * If the DAG cannot be built outside AQE the input passes through
    * unchanged — losing a fan-out is harmless next to shrinking an
    * already-wide input or executing it early. */
  def fanOut(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val parts =
      try df.queryExecution.sparkPlan.execute().getNumPartitions
      catch { case scala.util.control.NonFatal(_) => par }
    if (parts < par) df.repartition(par) else df
  }
}
