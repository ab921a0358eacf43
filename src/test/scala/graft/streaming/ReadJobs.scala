package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block launches, and a classifier for the two kinds a
  * store read must never launch: a parallel listing job and a
  * schema-inference job.
  */
object ReadJobs {

  type Job = (String, Seq[StageInfo])

  /** (description, stages) of every job `body` launches. A marker job run
    * after `body` drains the listener bus: events arrive in order, so once
    * the marker is seen every earlier job has been recorded.
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add((Option(js.properties).map(_.getProperty("spark.job.description")).orNull,
          js.stageInfos))
    }
    val marker = s"drain-${System.nanoTime()}"
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._1 == marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.filterNot(_._1 == marker)
  }

  /** Parallel listing jobs carry a "Listing leaf files ..." description. */
  def listings(jobs: Seq[Job]): Seq[String] =
    jobs.map(_._1).filter(d => d != null && d.startsWith("Listing leaf files"))

  /** A schema-inference job is a "parquet at ..." stage launched from
    * inside a parquet READ call (the top frame of its call site); a store's
    * own parquet writes share the stage name, not the frame.
    */
  def inferences(jobs: Seq[Job]): Seq[String] =
    jobs.flatMap(_._2).filter(st => st.name.startsWith("parquet at") &&
      st.details.linesIterator.nextOption().exists(_.contains("DataFrameReader.parquet")))
      .map(_.name)
}
