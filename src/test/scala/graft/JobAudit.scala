package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark work a block of code starts — the job budgets the
  * plan audits assert.
  */
object JobAudit {

  /** Runs `body` under a fresh job group and returns its value with the
    * Spark jobs and SQL executions the group started. A marker job run
    * after `body` is awaited on the same listener queue, so every event
    * of `body` has been delivered when this returns.
    */
  def recorded[T](spark: SparkSession)(body: => T): (T,
      Seq[SparkListenerJobStart], Seq[SparkListenerSQLExecutionStart]) = {
    val sc = spark.sparkContext
    val group = s"audit-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val execs =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group => jobs.add(e)
          case Some(g) if g == s"$group-drain" => drained.countDown()
          case _ => ()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) =>
          execs.add(x)
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "audit")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-drain", "audit drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener events were not delivered within 60 s")
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq, execs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** A job run outside any SQL execution — a file-listing or parquet
    * schema-inference job launched while a DataFrame is being BUILT,
    * rather than by an action on one.
    */
  def outsideExecution(job: SparkListenerJobStart): Boolean =
    Option(job.properties).forall(_.getProperty("spark.sql.execution.id") == null)

  /** One line per job: its id and stage names, for assertion messages. */
  def describe(jobs: Seq[SparkListenerJobStart]): String =
    jobs.map(j => s"job ${j.jobId}: " + j.stageInfos.map(_.name).mkString("+"))
      .mkString("; ")
}
