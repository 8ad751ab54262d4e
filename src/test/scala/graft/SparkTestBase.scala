package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (per-suite sessions would
  * pay ~5 s JVM+session startup each).
  */
object TestSpark {
  lazy val spark: SparkSession = Graft.session("local[4]", 4)
  val sfDir = "/root/testdata/sf0.001"
}

/** One started Spark job: its streaming batch id, description and tasks. */
final case class JobSeen(batchId: Option[String], description: String, tasks: Int)

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sfDir: String = TestSpark.sfDir

  /** Every Spark job started while `body` runs, from any thread. The
    * listener bus delivers events in order, so once a marker job run
    * after `body` reaches the listener, every earlier job start has too.
    */
  def jobsDuring(body: => Unit): Seq[JobSeen] = {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[JobSeen]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        seen.add(JobSeen(prop("streaming.sql.batchId"),
          prop("spark.job.description").getOrElse(""),
          js.stageInfos.map(_.numTasks).sum)); ()
      }
    }
    val sc = spark.sparkContext
    val marker = s"jobsDuring-marker-${java.util.UUID.randomUUID}"
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_.description == marker)) {
        assert(System.nanoTime() < deadline, "the listener bus did not drain in 30 s")
        Thread.sleep(20)
      }
    } finally sc.removeSparkListener(listener)
    seen.asScala.filterNot(_.description == marker).toSeq
  }
}
