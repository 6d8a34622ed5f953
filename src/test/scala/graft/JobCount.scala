package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code starts, for specs that pin job counts. */
object JobCount {

  /** The stage names of each job `block` starts, counted between two marker
    * jobs so every event of the block has been delivered. */
  def during(spark: SparkSession)(block: => Unit): Seq[String] = {
    val sites = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.map(_.name).mkString(" "))
    }
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setCallSite(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
      val deadline = System.currentTimeMillis() + 30000
      while (!sites.contains(name) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(sites.contains(name), s"listener never saw $name")
    }
    sc.addSparkListener(listener)
    try {
      marker("before"); sites.clear()
      block
      marker("after")
      sites.toArray(new Array[String](0)).toSeq.takeWhile(_ != "after")
    } finally sc.removeSparkListener(listener)
  }
}
