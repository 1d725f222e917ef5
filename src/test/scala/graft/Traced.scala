package graft

import org.apache.spark.sql.execution.SparkPlan

/** What a block ran on [[TestSpark.spark]] ([[Traced.traced]]): its value,
  * the Spark jobs it started, the physical plan of every SQL execution
  * (AQE re-plans included), the executed plan of every Dataset action,
  * and the root dirs of every file relation those actions read. */
final case class Trace[T](
    value: T, jobs: Int, plans: Seq[String], executed: Seq[SparkPlan], scanned: Seq[String])

object Traced {
  def traced[T](f: => T): Trace[T] = {
    import org.apache.spark.graftshim.ListenerShim
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    import org.apache.spark.sql.util.QueryExecutionListener
    import java.util.concurrent.ConcurrentLinkedQueue
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new ConcurrentLinkedQueue[String]
    val executed = new ConcurrentLinkedQueue[SparkPlan]
    val scanned = new ConcurrentLinkedQueue[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription); ()
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription); ()
        case _ => ()
      }
    }
    val actionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        executed.add(qe.executedPlan)
        qe.analyzed.foreach {
          case r: LogicalRelation => r.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.foreach(p => scanned.add(p.toUri.getPath.stripSuffix("/")))
            case _ => ()
          }
          case _ => ()
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerShim.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    try {
      val out = f
      ListenerShim.drain(sc)
      import scala.jdk.CollectionConverters._
      Trace(out, jobs.get, plans.asScala.toSeq, executed.asScala.toSeq, scanned.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(actionListener)
    }
  }
}
