package org.apache.spark

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import scala.jdk.CollectionConverters._

/** Per-stage census of each task's input rows (records scanned plus
  * shuffle records read), for specs that bound task skew. Lives in
  * `org.apache.spark` because draining the asynchronous listener bus
  * (`LiveListenerBus.waitUntilEmpty`) is `private[spark]`. */
final class StageTaskRows(sc: SparkContext) extends SparkListener {
  private val byStage = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]

  sc.addSparkListener(this)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null)
      byStage.computeIfAbsent(te.stageId, _ => new ConcurrentLinkedQueue[Long])
        .add(m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
  }

  /** Runs `body`, then returns every stage's task input rows that it
    * produced (stage id → rows per task). */
  def during(body: => Unit): Map[Int, Seq[Long]] = {
    sc.listenerBus.waitUntilEmpty(30000L)
    byStage.clear()
    body
    sc.listenerBus.waitUntilEmpty(30000L)
    byStage.asScala.map { case (s, q) => s -> q.asScala.toSeq }.toMap
  }

  def close(): Unit = sc.removeSparkListener(this)
}
