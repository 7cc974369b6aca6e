package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed region: a layer call, the whole cycle, or a forced extra. */
final case class Span(name: String, parent: String, runId: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side counters of one job group (one span). */
final class GroupStats {
  var jobs = 0L
  var executorCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var exchanges = 0L
  var nestedLoopJoins = 0L
}

/** Records spans and, when `listen` is set, the jobs, executor CPU,
  * shuffle, spill and plan shape of every Spark job and SQL execution,
  * attributed by job group to the span that issued them. The plan shape
  * comes from the SQL execution events, which carry the execution id
  * that the jobs name; a QueryExecutionListener callback carries neither
  * that id nor the job group.
  *
  * Without `listen` only the spans' wall times are kept and nothing is
  * registered with Spark, so an untraced run pays for no listener. */
final class Tracer(spark: SparkSession, val runId: String, val listen: Boolean) {
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[String]
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val executionGroup = new ConcurrentHashMap[Long, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
  private val flushGroup = s"perfbench.flush.$runId"
  @volatile private var flushed = new CountDownLatch(1)

  private def stats(group: String): GroupStats =
    groups.computeIfAbsent(group, _ => new GroupStats)

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { group =>
          stats(group).synchronized(stats(group).jobs += 1)
          jobGroup.put(e.jobId, group)
          e.stageIds.foreach(stageGroup.put(_, group))
          Option(e.properties.getProperty("spark.sql.execution.id"))
            .foreach(id => executionGroup.put(id.toLong, group))
        }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { group =>
        val m = e.taskMetrics
        if (m != null) {
          val s = stats(group)
          s.synchronized {
            s.executorCpuNs += m.executorCpuTime
            s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobGroup.get(e.jobId) == flushGroup) flushed.countDown()

    /** Plan shape per SQL execution: the physical plan at its start,
      * replaced by each adaptive re-plan, counted when it ends. */
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart => plans.put(e.executionId, e.sparkPlanInfo)
      case e: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(e.executionId, e.sparkPlanInfo)
      case e: SparkListenerSQLExecutionEnd =>
        val plan = plans.remove(e.executionId)
        Option(executionGroup.get(e.executionId)).filter(_ => plan != null).foreach { group =>
          val s = stats(group)
          s.synchronized {
            s.exchanges += count(plan, Set("Exchange"))
            s.nestedLoopJoins += count(plan, Set("BroadcastNestedLoopJoin", "CartesianProduct"))
          }
        }
      case _ =>
    }
  }

  private def count(p: SparkPlanInfo, names: Set[String]): Long =
    (if (names(p.nodeName)) 1L else 0L) + p.children.map(count(_, names)).sum

  if (listen) {
    spark.sparkContext.addSparkListener(jobs)
  }

  /** Time `body` as span `name`; its Spark jobs run in job group `name`. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = stack.headOption.getOrElse("")
    val outerGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    if (listen) sc.setJobGroup(name, s"perfbench $runId $name")
    stack.push(name)
    val t0 = System.nanoTime()
    try body
    finally {
      spanBuf += Span(name, parent, runId, t0, System.nanoTime())
      stack.pop()
      if (listen) outerGroup match {
        case Some(g) => sc.setJobGroup(g, s"perfbench $runId $g")
        case None => sc.clearJobGroup()
      }
    }
  }

  def spans: Seq[Span] = spanBuf.toSeq

  /** A span's own time: its wall time minus that of its child spans. */
  def selfSeconds(name: String): Double = {
    val own = spanBuf.filter(_.name == name).map(_.seconds).sum
    own - spanBuf.filter(_.parent == name).map(_.seconds).sum
  }

  /** Wait until every listener event posted so far has been delivered:
    * a marker job's end reaches the shared listener queue after all the
    * events posted before it. */
  def drain(timeoutSeconds: Long = 30): Unit = if (listen) {
    val sc = spark.sparkContext
    flushed = new CountDownLatch(1)
    sc.setJobGroup(flushGroup, "perfbench listener flush")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!flushed.await(timeoutSeconds, TimeUnit.SECONDS))
      throw new IllegalStateException(s"listener events not delivered within ${timeoutSeconds}s")
  }

  def group(name: String): GroupStats = stats(name)

  def close(): Unit = if (listen) {
    spark.sparkContext.removeSparkListener(jobs)
  }
}
