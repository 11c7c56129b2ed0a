package org.apache.spark {
  /** The listener bus is private to Spark; [[graft.JobCounter]] drains
    * it so that every job a block started has been seen. */
  object ListenerBusDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
  }
}

package graft {

  import java.util.concurrent.ConcurrentLinkedQueue
  import org.apache.spark.ListenerBusDrain
  import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
    SparkListenerJobStart}
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.SQLExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
  import scala.collection.mutable
  import scala.jdk.CollectionConverters._

  /** Counts the Spark jobs a block of code starts, with the call site
    * of each — the fence for a per-operation job budget:
    * {{{
    * val (result, jobs) = JobCounter(spark) { Versioned.read(...).collect() }
    * assert(jobs.size <= 2, jobs.mkString("\n"))
    * }}}
    * Only jobs started from the block (or threads it spawned, which
    * inherit its local properties) count; other work on the shared
    * session does not. */
  object JobCounter {
    private val tagKey = "graft.jobCounter"

    /** One job: its own call site — Spark's short form (`<method> at
      * <file>:<line>`) and long form (the last Spark frame, then the
      * caller's stack) — and, for a job inside a SQL query, the
      * query's long call site. A query's stages run on pool threads,
      * so there the job's own site names only the pool. */
    final case class Job(site: String, stack: String,
        query: Option[String]) {
      /** Started while a `DataFrameReader` defined a read: a file
        * listing or a schema inference, never the read's own action. */
      def isReaderJob: Boolean =
        stack.linesIterator.nextOption().exists(_.contains("DataFrameReader"))

      override def toString: String =
        s"$site\n$stack" + query.fold("")(q => s"\n  in the query of\n$q")
    }

    def apply[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
      val sc = spark.sparkContext
      val tag = java.util.UUID.randomUUID().toString
      val jobs = new ConcurrentLinkedQueue[Job]
      val listener = new SparkListener {
        private val queries = mutable.Map.empty[String, String]
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart =>
            queries(s.executionId.toString) = s.details
          case _ => ()
        }
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null &&
              e.properties.getProperty(tagKey) == tag) {
            // the result stage, created last, carries the job's site
            val result = e.stageInfos.maxBy(_.stageId)
            val query = Option(e.properties.getProperty(
              SQLExecution.EXECUTION_ID_KEY)).flatMap(queries.get)
            jobs.add(Job(result.name, result.details, query))
          }
      }
      sc.addSparkListener(listener)
      sc.setLocalProperty(tagKey, tag)
      try {
        val out = body
        ListenerBusDrain(sc)
        (out, jobs.asScala.toSeq)
      } finally {
        sc.setLocalProperty(tagKey, null)
        sc.removeSparkListener(listener)
      }
    }
  }
}
