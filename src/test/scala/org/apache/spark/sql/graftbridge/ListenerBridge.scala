package org.apache.spark.sql.graftbridge

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The `private[spark]` listener bus: what a traced block must leave as
  * it found it. */
object ListenerBridge {
  /** Class names of the listeners registered on the session's bus. */
  def listenerClasses(spark: SparkSession): Seq[String] =
    spark.sparkContext.listenerBus.listeners.asScala.map(_.getClass.getName).toSeq
}
