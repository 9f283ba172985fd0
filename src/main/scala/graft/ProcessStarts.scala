package graft

import java.nio.file.Files
import java.time.Instant

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Child processes this JVM starts, read from an in-process JFR
  * recording of `jdk.ProcessStart` (no agent or JVM flag needed). A
  * Hadoop call that shells out shows here, e.g. a session whose `file:`
  * paths do not resolve to [[graft.sources.ForkFreeFileSystem]].
  */
object ProcessStarts {
  case class Start(at: Instant, command: String)

  /** Runs `body`; returns its result and every process that any thread
    * of this JVM started meanwhile, in start order.
    */
  def during[T](body: => T): (T, Seq[Start]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withoutStackTrace()
      rec.start()
      val out = try body finally rec.stop()
      val file = Files.createTempFile("graft-process-starts", ".jfr")
      try {
        rec.dump(file)
        val starts = RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(e => Start(e.getStartTime, e.getString("command")))
          .sortBy(_.at)
        (out, starts)
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }
}
