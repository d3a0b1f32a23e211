package graft

import java.net.URI
import java.nio.file.Files
import java.security.PrivilegedExceptionAction
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.scalatest.funsuite.AnyFunSuite

/** On a session with `SessionTuning.configs`, `file://` resolves to the
  * fork-free filesystem through both Hadoop APIs, and a streaming
  * query plus a parquet write start no `chmod` or `readlink` child.
  */
class ForkGateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  // the benchmark's committed copy of the sf0.001 test tables
  private val sf = new java.io.File("perfbench/data/sf0.001").getAbsolutePath
  private val local = URI.create("file:///")

  /** The command lines of the processes the JVM started during `body`,
    * from a JFR stream of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val started = new ConcurrentLinkedQueue[String]
    val flushes = new AtomicLong
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => started.add(e.getString("command")): Unit)
      rs.onFlush(() => flushes.incrementAndGet(): Unit)
      rs.startAsync()
      body
      // an event reaches the consumer at the first flush after it; two
      // flushes past `body` have delivered all of its events
      val seen = flushes.get
      val deadline = System.nanoTime + 20000000000L
      while (flushes.get < seen + 2 && System.nanoTime < deadline) Thread.sleep(20)
      assert(flushes.get >= seen + 2, "the JFR stream stopped flushing")
    } finally rs.close()
    started.asScala.toSeq
  }

  private def program(cmd: String): String = cmd.trim.split("\\s+").head.split('/').last

  test("file:// resolves to the fork-free FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(local, conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }

  test("a file:// FileSystem cached before the session would shadow it") {
    // FileSystem.get keeps one instance per scheme, authority and user,
    // whatever the conf: the first caller in the JVM picks the class
    val plain = new Configuration()
    assert(FileSystem.get(local, plain).isInstanceOf[ForkFreeLocalFileSystem],
      "a stock file:// FileSystem was cached before the test session was built")
    // the hazard, under a user of its own so the JVM's cache is untouched
    val early = UserGroupInformation.createRemoteUser("graft-early-caller")
    def get(conf: Configuration) = early.doAs(new PrivilegedExceptionAction[FileSystem] {
      def run(): FileSystem = FileSystem.get(local, conf)
    })
    try {
      val first = get(plain)
      assert(!first.isInstanceOf[ForkFreeLocalFileSystem])
      assert(get(spark.sparkContext.hadoopConfiguration) eq first)
    } finally FileSystem.closeAllForUGI(early)
  }

  test("q73 and a parquet write start no chmod or readlink process") {
    // the recorder sees the stock filesystem's chmod
    val dir = Files.createTempDirectory("graft_fork_gate")
    try {
      val stock = new RawLocalFileSystem
      stock.initialize(local, new Configuration())
      val control = processStarts {
        stock.setPermission(new Path(dir.toString), new FsPermission(0x1c0.toShort))
      }
      assert(control.map(program).contains("chmod"), control)

      val started = processStarts {
        assert(SparkEntry.queries("q73_stream_hourly")(spark, sf).collect().nonEmpty)
        spark.range(1000).coalesce(1).write.parquet(dir.resolve("out").toString)
      }
      val forks = started.filter(c => Set("chmod", "readlink")(program(c)))
      if (forks.nonEmpty) fail(s"${forks.size} forks, e.g. ${forks.take(3).mkString("; ")}")
    } finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
  }
}
