package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftCoreShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (sf0.001 data; 4 cores). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  val sf: String = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM — do not stop it here,
    // but DO release any HotCache slot registrations this suite's builds
    // made (d09/p06b), so no cached plan leaks into later suites
    graft.operators.HotCache.releaseAll()
    super.afterAll()
  }

  def run(name: String, dir: String = sf) =
    SparkEntry.queries(name)(spark, dir)

  /** Runs `body` with the session confs set, then restores them. */
  def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, old) =>
      old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** `body`'s result with every query the session finished while it
    * ran: the successful ones in completion order, then the failures.
    */
  def queriesDuring[A](body: => A): (A, Seq[QueryExecution], Seq[Exception]) = {
    val ok = new ConcurrentLinkedQueue[QueryExecution]()
    val failed = new ConcurrentLinkedQueue[Exception]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ok.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        failed.add(e)
    }
    GraftCoreShim.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    val a =
      try {
        val a = body
        GraftCoreShim.drainListenerBus(spark.sparkContext)
        a
      } finally spark.listenerManager.unregister(listener)
    (a, ok.asScala.toSeq, failed.asScala.toSeq)
  }
}
