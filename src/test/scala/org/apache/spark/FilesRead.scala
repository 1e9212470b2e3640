package org.apache.spark

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** The files every query a block runs (writes included) scans: the
  * input files of each file relation in the queries' analyzed plans.
  * Draining the listener bus before and after makes the set exact; the
  * bus is package-private to Spark, hence this package. */
object FilesRead {
  def of[T](spark: SparkSession)(body: => T): (T, Set[String]) = {
    val files = ConcurrentHashMap.newKeySet[String]()
    def record(qe: QueryExecution): Unit = qe.analyzed.foreach {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.inputFiles.foreach(files.add)
        case _ =>
      }
      case _ =>
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    }
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, files.asScala.toSet)
    } finally spark.listenerManager.unregister(listener)
  }
}
