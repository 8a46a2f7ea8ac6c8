package org.apache.spark

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, StageInfo}

/** The Spark-internal listener-bus access the plan- and job-capturing
  * specs need: block until every listener queue has delivered its
  * events, so a listener has seen everything that ran before it is
  * read. */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Runs `body` and returns, for each Spark job it started (in start
    * order), how many of the job's stages ran: a stage skipped because
    * its shuffle output or cached blocks already existed does not
    * count. */
  def stagesRunPerJob(sc: SparkContext)(body: => Unit): Seq[Int] =
    stageScopesPerJob(sc)(body).map(_.size)

  /** Runs `body` and returns, for each Spark job it started (in start
    * order), each stage of the job that ran, as the set of RDD
    * operation scope names of the stage's RDDs — for SQL, the names of
    * the plan nodes that built them ("LocalTableScan",
    * "BroadcastExchange", ...). Skipped stages are left out, as in
    * [[stagesRunPerJob]]. */
  def stageScopesPerJob(sc: SparkContext)(body: => Unit)
      : Seq[Seq[Set[String]]] = {
    val jobs = new ConcurrentLinkedQueue[Seq[StageInfo]]()
    val ran = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.stageInfos); ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        ran.add(e.stageInfo.stageId); ()
      }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try { body; drain(sc) } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq.map(_.filter(s => ran.contains(s.stageId))
      .map(_.rddInfos.flatMap(_.scope.map(_.name)).toSet))
  }
}
