package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream

/** Committed after the recorded block: once the recording delivers it,
  * every process start committed before it has been delivered too. */
@jdk.jfr.Name("graft.test.ProcessStartSentinel")
final class ProcessStartSentinel extends jdk.jfr.Event

/** A guard against Hadoop's shell-backed local filesystem: without
  * `libhadoop` it starts a `chmod` child for every permission it sets
  * and a `readlink` child for every link-status lookup. */
object ProcessStarts {

  /** The frames of Hadoop's filesystem layer. */
  val HadoopFs = "org.apache.hadoop.fs."

  /** Run `body` once to warm every lazily initialised class, then again
    * under a JFR recording, and return the command lines of the
    * processes started by a stack with a frame in a class whose name
    * starts with one of `frames`. Charged by call stack: Spark's own
    * threads start processes of their own (`getconf PAGESIZE` once per
    * JVM, `rm -rf` of a stream's temporary checkpoint). */
  def through(frames: String*)(body: => Unit): Seq[String] = {
    body
    val starts = new ConcurrentLinkedQueue[String]()
    val delivered = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[ProcessStartSentinel])
      rs.onEvent("jdk.ProcessStart", { e =>
        if (e.getStackTrace.getFrames.asScala.exists { f =>
              val cls = f.getMethod.getType.getName
              frames.exists(cls.startsWith)
            })
          starts.add(e.getString("command"))
      })
      rs.onEvent("graft.test.ProcessStartSentinel", _ => delivered.countDown())
      rs.startAsync()
      body
      new ProcessStartSentinel().commit()
      assert(delivered.await(60, TimeUnit.SECONDS), "the recording never delivered its sentinel")
    } finally rs.close()
    starts.asScala.toSeq
  }
}
