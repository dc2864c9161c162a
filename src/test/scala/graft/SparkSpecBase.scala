package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: the one every graft main runs in. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The Spark actions `body` runs — QueryExecutionListener successes
    * (collects, writes), not raw scheduler jobs: AQE materializes
    * broadcast/shuffle stages as extra sub-jobs, which are data-plane
    * detail, while the streaming scalability tax is the number of blocking
    * round-trips per micro-batch. */
  def countActions(body: => Unit): Int = {
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      // every action posts its end event before it returns: once the bus
      // has delivered what was posted, the count is final
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
      actions.get()
    } finally spark.listenerManager.unregister(l)
  }

  /** The committed data directory of replica version v. Data dirs are
    * attempt-suffixed (`data/v<v>-<attempt>`) since the multi-writer
    * hardening; once v is committed, exactly one referenced dir survives
    * (defeated/crashed attempts are GC'd). Returns a non-existent
    * `data/v<v>` placeholder when no attempt dir exists, so
    * `.exists()` assertions read naturally. */
  def versionDataDir(root: String, v: Long): java.io.File = {
    val d = new java.io.File(s"$root/data")
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName == s"v$v" || f.getName.startsWith(s"v$v-"))
      .sortBy(_.getName).headOption
      .getOrElse(new java.io.File(d, s"v$v"))
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = SparkEntry.localSession(4)
}
