package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (0 = none); spans of one query share its `key`.
  */
final case class Span(id: Int, parent: Int, name: String, key: String,
    startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are only kept while `on`; the
  * benchmark writes them out once, after the timed phase.
  */
final class Tracer {
  @volatile var on = false
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, parent: Int, key: String)(body: Int => T): T =
    if (!on) body(0)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally { spans.add(Span(id, parent, name, key, t0, System.nanoTime())); () }
    }

  /** Self time per span name: each span's duration minus the union of
    * its children's intervals (children of one parent may overlap when
    * clients run concurrently under the same pass span).
    */
  def selfTimes: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            if (a >= end) (sum + (b - a), b)
            else if (b > end) (sum + (b - end), b)
            else (sum, end)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }
}

/** Executor-side counts for one job group (one layer call of one query). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var schedWaitMs = 0L
  /** max/median task time of this group's worst stage (1 when even). */
  var worstSkew = 1.0
}

/** SparkListener that attributes jobs, stages and tasks to the job group
  * the benchmark set on the calling thread (`setJobGroup`), so executor
  * counts land on the query span that caused them.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, Long]()
  private val stageDurations = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  def snapshot: Map[String, GroupStats] = groups.asScala.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    e.stageInfos.foreach(si => stageGroup.putIfAbsent(si.stageId, g))
    val st = stats(g)
    st.synchronized { st.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmit.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    val st = stats(stageGroup.getOrDefault(id, "-"))
    st.synchronized { st.stages += 1 }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    stageFirstLaunch.merge(e.stageId, e.taskInfo.launchTime, (a, b) => a min b)
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stats(stageGroup.getOrDefault(e.stageId, "-"))
    val m = e.taskMetrics
    st.synchronized {
      st.tasks += 1
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.spillBytes += m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
    stageDurations.synchronized {
      stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val st = stats(stageGroup.getOrDefault(id, "-"))
    val ds = stageDurations.synchronized(stageDurations.remove(id)).getOrElse(Nil).sorted
    val wait = Option(stageFirstLaunch.remove(id)).map(_.longValue)
      .flatMap(l => Option(stageSubmit.remove(id)).map(s => (l - s.longValue) max 0L))
      .getOrElse(0L)
    st.synchronized {
      st.schedWaitMs += wait
      if (ds.size >= 2) {
        val med = ds(ds.size / 2) max 1L
        st.worstSkew = st.worstSkew max (ds.last.toDouble / med)
      }
    }
  }
}

/** Sums Janino compile time and counts compile failures from the CodeGenerator logger, without changing what
  * reaches the console.
  */
object CodegenLog {
  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Compiled = "Code generated in ([0-9.]+) ms".r.unanchored
  val compileMicros = new AtomicLong(0)
  val fallbacks = new AtomicLong(0)

  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("graftbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        msg match {
          case Compiled(ms) => compileMicros.addAndGet((ms.toDouble * 1000).toLong)
          case _ if msg.contains("Failed to compile") => fallbacks.incrementAndGet()
          case _ =>
        }
        ()
      }
    }
    app.start()
    val conf = ctx.getConfiguration
    val lc = new LoggerConfig(Logger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    conf.addLogger(Logger, lc)
    ctx.updateLoggers()
  }
}
