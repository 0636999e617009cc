package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Counts the Spark jobs a block starts on the shared session. Listener
  * events arrive asynchronously, so [[jobsDuring]] ends with a fence job
  * and waits for it: the bus delivers in order, so once the fence is seen
  * every job `body` started has been counted. */
trait JobCounting extends SparkTestBase with BeforeAndAfterAll { this: Suite =>

  /** Descriptions of every job started on the shared context. */
  private val started = new ConcurrentLinkedQueue[String]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
  }
  private var fences = 0

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit =
    try spark.sparkContext.removeSparkListener(listener) finally super.afterAll()

  def jobsDuring[T](body: => T): (T, Int) = {
    started.clear()
    val out = body
    fences += 1
    val fence = s"${getClass.getSimpleName}-fence-$fences"
    val sc = spark.sparkContext
    sc.setJobDescription(fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!started.contains(fence)) {
      assert(System.nanoTime() < deadline, s"fence job $fence never reached the listener")
      Thread.sleep(10)
    }
    (out, started.size - 1)
  }
}
