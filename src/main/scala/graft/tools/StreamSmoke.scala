package graft.tools

import graft.GraftSession
import graft.streaming.EventsStream
import graft.streaming.EventsStream.SessionEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Runnable end-to-end smoke for the streaming pipelines: feeds
  * micro-batches through a live StreamExecution and prints what the
  * memory sink saw. `sbt "runMain graft.tools.StreamSmoke"`.
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus, "stream-smoke")
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val win = MemoryStream[(Timestamp, String, Double)]
    val winQ = EventsStream.windowedCounts(win.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("smoke_win")
      .outputMode("update").start()
    win.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:40:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:10:00"), "view", 5.0))
    winQ.processAllAvailable()
    println("windowedCounts sink:")
    spark.table("smoke_win").orderBy("window_start", "event_type").show(truncate = false)
    winQ.stop()

    val sess = MemoryStream[SessionEvent]
    val sessQ = EventsStream.sessionize(sess.toDS(), gapSec = 60)
      .writeStream.format("memory").queryName("smoke_sess")
      .outputMode("update").start()
    val t0 = 1700000000L * 1000000L
    sess.addData(SessionEvent(1L, t0, 1.0), SessionEvent(1L, t0 + 30L * 1000000L, 1.0))
    sessQ.processAllAvailable()
    sess.addData(SessionEvent(1L, t0 + 500L * 1000000L, 1.0))
    sessQ.processAllAvailable()
    println("sessionize sink (batch 2 opens session 2):")
    spark.table("smoke_sess").orderBy("userId", "sessionId", "nEvents").show()
    sessQ.stop()
    spark.stop()
  }
}
