package graft.tools

import org.apache.spark.sql.functions._

/** Print the dense generator's pair meet mass Σ C(df, 2) for the word-3-gram
  * corpus at a scale dir — the number [[graft.operators.Dedup.densePairCounts]]'s
  * round-14 shuffle-budget pre-flight multiplies by its constant 8 B/pair.
  * Read against a measured board's shuffle bytes to recheck that constant.
  * Usage: `graft.tools.MassProbe <sfdir>`. */
object MassProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf10")
    val spark = graft.core.GraftSession
      .builder(master = "local[16]", shufflePartitions = 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val sh = graft.operators.Dedup.shingleHashes(docs, "doc_id", "text", 3)
    val t0 = System.nanoTime()
    val row = sh.groupBy("sh").agg(count(lit(1)).as("_df"))
      .agg(
        graft.core.GraftSession.meetMass(col("_df")).as("mass"),
        count(lit(1)).as("vocab"),
        coalesce(sum(col("_df")), lit(0L)).as("occurrences"),
        max(col("_df")).as("max_df"))
      .head()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[mass] dir=$dir mass=${row.getLong(0)} vocab=${row.getLong(1)} " +
      f"occ=${row.getLong(2)} max_df=${row.getLong(3)} probe_s=$secs%.1f " +
      f"est48B=${row.getLong(0) * 48 / 1e9}%.1f GB")
    spark.stop()
  }
}
