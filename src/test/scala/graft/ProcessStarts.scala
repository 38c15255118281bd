package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedFrame, RecordingFile}

/** Counts the processes the JVM starts while a body runs, from JFR's
  * `jdk.ProcessStart` events: those whose stack has a frame `frame` accepts.
  */
object ProcessStarts {
  def count(frame: RecordedFrame => Boolean)(body: => Unit): Int = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      val f = Files.createTempFile("graft_forks", ".jfr")
      try {
        rec.dump(f)
        RecordingFile.readAllEvents(f).asScala.count { e =>
          Option(e.getStackTrace).exists(_.getFrames.asScala.exists(frame))
        }
      } finally Files.deleteIfExists(f)
    } finally rec.close()
  }

  /** A frame of a method of a class whose name contains one of `parts`. */
  def inClass(parts: String*)(fr: RecordedFrame): Boolean = {
    val cls = fr.getMethod.getType.getName
    parts.exists(cls.contains)
  }
}
