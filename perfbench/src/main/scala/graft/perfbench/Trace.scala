package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced call into a layer. `parent` is the enclosing span's id on the
  * same thread (-1 at the top); every span of a run shares `run`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, run: String)

/** Work Spark did inside one scope, from listener events. */
final class ScopeStats {
  var jobs = 0; var stages = 0; var tasks = 0L
  var runMs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var inputRecords = 0L; var inputBytes = 0L
  var planMs = 0L
  /** per call-site file: (jobs, job wall ms, bytes written) */
  val byFile = mutable.Map.empty[String, (Int, Long, Long)]
  def fileJobs(f: String): Int = byFile.get(f).map(_._1).getOrElse(0)
  def fileJobSeconds(f: String): Double = byFile.get(f).map(_._2).getOrElse(0L) / 1e3
  def fileBytes(f: String): Long = byFile.get(f).map(_._3).getOrElse(0L)
}

/** Tracing from outside the program: spans around each call into a layer,
  * and a SparkListener that groups jobs and stages by the scope the caller
  * set (a thread-local Spark property, inherited by every job the call
  * starts) and by the job's call-site file (`BucketedReplica.scala`, ...).
  * Disabled, every method is a pass-through and no listener is installed. */
final class Trace(spark: SparkSession, val enabled: Boolean, run: String) {
  private val ScopeKey = "perfbench.scope"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  private val scopes = mutable.Map.empty[String, ScopeStats]
  private val jobInfo = mutable.Map.empty[Int, (String, String, Long)] // job -> (scope, file, start)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String] // SQL execution -> call site
  // QueryExecutionListener events carry no job properties: they are
  // attributed to the scope current when they are drained (callers drain
  // before they switch scope)
  @volatile private var planScope = ""

  private def statsOf(scope: String): ScopeStats = synchronized(scopes.getOrElseUpdate(scope, new ScopeStats))

  private val CallSite = """[ (]([A-Za-z0-9_$]+\.scala):""".r.unanchored

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val scope = props.flatMap(p => Option(p.getProperty(ScopeKey))).getOrElse("")
      // a SQL job belongs to the call site that started its execution (AQE
      // runs stage jobs on its own threads); any other job's result stage is
      // named after its call site
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      val file = site match {
        case Some(CallSite(f)) => f
        case _ => "other"
      }
      jobInfo(e.jobId) = (scope, file, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      statsOf(scope).jobs += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        // `details` is the call stack from the action inward-out; its first
        // frame outside Spark, Scala and the JDK is the calling program line
        Option(x.details).flatMap(_.linesIterator.find(l =>
          !Seq("org.apache.spark.", "scala.", "java.").exists(l.startsWith)))
          .foreach(l => execSite(x.executionId) = l)
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobInfo.get(e.jobId).foreach { case (scope, file, start) =>
        val st = statsOf(scope)
        val (n, ms, b) = st.byFile.getOrElse(file, (0, 0L, 0L))
        st.byFile(file) = (n + 1, ms + (e.time - start), b)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val info = e.stageInfo
      for (job <- stageJob.get(info.stageId); (scope, file, _) <- jobInfo.get(job)) {
        val st = statsOf(scope)
        st.stages += 1
        st.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          st.runMs += m.executorRunTime
          st.gcMs += m.jvmGCTime
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          st.inputRecords += m.inputMetrics.recordsRead
          st.inputBytes += m.inputMetrics.bytesRead
          val (n, ms, b) = st.byFile.getOrElse(file, (0, 0L, 0L))
          st.byFile(file) = (n, ms, b + m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  private object planListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      statsOf(planScope).planMs += ms
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Runs `body` as the named span, its Spark work counted under `scope`
    * (when given). The scope is set on the calling thread only. */
  def span[A](name: String, scope: String = null)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prevScope = sc.getLocalProperty(ScopeKey)
      if (scope != null) { drain(); sc.setLocalProperty(ScopeKey, scope); planScope = scope }
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get().headOption.getOrElse(-1)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        synchronized(spans += Span(id, parent, name, t0, t1, run))
        if (scope != null) {
          drain(); sc.setLocalProperty(ScopeKey, prevScope)
          planScope = Option(prevScope).getOrElse("")
        }
      }
    }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.ListenerDrain.drain(spark.sparkContext)

  def stats(scope: String): ScopeStats = { drain(); statsOf(scope) }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Writes the spans, one JSON object a line. */
  def write(path: String): Unit = {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":${Json.str(s.run)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON text for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
