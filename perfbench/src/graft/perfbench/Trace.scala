package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark work summed over the jobs of one job group or one SQL execution. */
final class Work {
  var jobs = 0
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One span: a named interval on the driver; `parent` is the enclosing span. */
final case class Span(id: Int, name: String, parent: Option[Int], startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Tracing from outside the program: each span sets a Spark job group, and a
  * SparkListener sums task metrics per job group and per SQL execution and
  * keeps every action that carries a `pr_delta_<i>` observation, which is
  * PageRank iteration i. Spans stay in memory until the run writes them out. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val byGroup = new ConcurrentHashMap[String, Work]()
  private val byExec = new ConcurrentHashMap[Long, Work]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, Long)]()
  /** (iteration, execution id, action wall ns) per PageRank iteration seen. */
  val iterations = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var started = 0
  private var flushes = 0

  private def work(m: ConcurrentHashMap[String, Work], k: String) = m.computeIfAbsent(k, _ => new Work)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .map(_.toLong).getOrElse(-1L)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .orElse(Option(execGroup.get(exec))).getOrElse("")
      if (exec >= 0 && group.nonEmpty) execGroup.putIfAbsent(exec, group)
      e.stageIds.foreach(s => stageOwner.put(s, (group, exec)))
      byGroup.synchronized { work(byGroup, group).jobs += 1; byExec.computeIfAbsent(exec, _ => new Work).jobs += 1 }
    }
    // A SQL execution's end event carries its QueryExecution (a field
    // Spark keeps package-private, hence the reflection); an action whose
    // observed metrics hold `pr_delta_<i>` is PageRank iteration i.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
        val ns = end.getClass.getMethod("duration").invoke(end).asInstanceOf[Long]
        if (qe != null) qe.observedMetrics.keys.filter(_.startsWith("pr_delta_")).foreach { k =>
          iterations.add((k.stripPrefix("pr_delta_").toInt, end.executionId, ns))
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val (group, exec) = stageOwner.getOrDefault(e.stageId, ("", -1L))
      if (m != null) byGroup.synchronized {
        for (w <- Seq(work(byGroup, group), byExec.computeIfAbsent(exec, _ => new Work))) {
          w.tasks += 1
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.diskBytesSpilled
        }
      }
    }
  })

  /** Runs `f` as span `name` (and job group `group`) under the open span. */
  def span[A](name: String, group: String = "")(f: => A): A = {
    val id = started
    started += 1
    val parent = open.headOption
    val start = System.nanoTime()
    open = id :: open
    if (group.nonEmpty) sc.setJobGroup(group, name, interruptOnCancel = false)
    try f
    finally {
      if (group.nonEmpty) sc.clearJobGroup()
      open = open.tail
      spans += Span(id, name, parent, start, System.nanoTime())
    }
  }

  /** Waits until the listeners have seen every event posted so far: a
    * one-task marker job is posted after them on the same bus. */
  def flush(): Unit = {
    flushes += 1
    val mark = s"flush#$flushes"
    sc.setJobGroup(mark, mark, interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!byGroup.containsKey(mark) || byGroup.get(mark).tasks < 1) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("listener bus did not drain")
      Thread.sleep(5)
    }
  }

  def group(name: String): Work = byGroup.getOrDefault(name, new Work)
  def groupsWithPrefix(prefix: String): Seq[Work] =
    byGroup.asScala.collect { case (k, w) if k.startsWith(prefix) => w }.toSeq
  def execsOf(group: String): Set[Long] =
    execGroup.asScala.collect { case (e, g) if g == group => e.longValue }.toSet
  /** The PageRank iterations whose actions ran in job group `group`. */
  def iterationsOf(group: String): Seq[(Int, Long, Long)] = {
    val execs = execsOf(group)
    iterations.asScala.toSeq.filter { case (_, e, _) => execs.contains(e) }
  }

  /** Waits until the listener has seen `n` iterations of `group`. */
  def awaitIterations(group: String, n: Int): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (iterationsOf(group).size < n) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"saw ${iterationsOf(group).size} of $n PageRank iterations")
      Thread.sleep(5)
    }
  }

  def exec(id: Long): Work = byExec.getOrDefault(id, new Work)

  /** Self time of a span: its duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent.contains(s.id)).map(_.seconds).sum

  def spansJson: String = spans.sortBy(_.id).map { s =>
    s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent.getOrElse("null")}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
