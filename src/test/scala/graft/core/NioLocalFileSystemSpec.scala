package graft.core

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.plans.PipelineConfig
import graft.sinks.SnapshotSink
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

class NioLocalFileSystemSpec extends SparkSpec {
  import NioLocalFileSystemSpec._
  import spark.implicits._

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Mode bits on disk, sticky bit included (java.nio's "unix" view). */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  private def opened(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(new URI("file:///"), conf)
    fs
  }

  test("modeBits maps every rwx mode as FsPermission prints it") {
    (0 until 512).foreach { m =>
      assert(PosixFilePermissions.toString(NioRawLocalFileSystem.modeBits(m)) ==
        new FsPermission(m.toShort).toString, f"mode $m%o")
    }
  }

  test("files, .crc sidecars and directories get stock LocalFileSystem's modes under one umask") {
    Seq("022", "027", "077").foreach { umask =>
      val Seq(stock, nio) = Seq(new LocalFileSystem(), new NioLocalFileSystem()).map { raw =>
        val fs = opened(raw, umask)
        val root = Files.createTempDirectory("nio-fs")
        val out = fs.create(new Path(root.toString, "a/b/part.parquet"))
        out.write(1); out.close()
        fs.mkdirs(new Path(root.toString, "c"), new FsPermission(octal("775").toShort))
        Seq("a", "a/b", "a/b/part.parquet", "a/b/.part.parquet.crc", "c")
          .map(r => r -> mode(root.resolve(r)))
      }
      assert(nio == stock, s"umask $umask")
    }
  }

  test("explicit modes read back exactly; a sticky mode takes Hadoop's own path") {
    val fs = opened(new NioLocalFileSystem(), "022")
    val root = Files.createTempDirectory("nio-fs")
    val file = root.resolve("f")
    fs.create(new Path(file.toString)).close()
    val dir = root.resolve("d")
    fs.mkdirs(new Path(dir.toString))
    fs.setPermission(new Path(file.toString), new FsPermission(octal("600").toShort))
    assert(mode(file) == octal("600"))
    fs.setPermission(new Path(dir.toString), new FsPermission(octal("750").toShort))
    assert(mode(dir) == octal("750"))
    // java.nio cannot set the sticky bit: seeing it on disk means the
    // forked chmod ran
    fs.setPermission(new Path(dir.toString), new FsPermission(octal("1777").toShort))
    assert(mode(dir) == octal("1777"))
  }

  test("steady micro-batches to snapshot + kafka-file and a snapshot merge start no process") {
    // the FileSystem class is fixed by the JVM's first file:// lookup
    assert(FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
      .getClass == classOf[NioLocalFileSystem])
    val work = Files.createTempDirectory("no-spawn").toString
    var published = 0
    def changes(n: Int) = (0 until 50).map { i =>
      val seq = n * 50L + i
      (seq, if (i % 7 == 0) "delete" else "insert", "db0", "t", seq % 40, s"v$n")
    }.toDF("seq", "op", "database", "table", "id", "v")
    // one change-log file per batch, moved into the log whole
    def publish(): Unit = {
      val stage = s"$work/stage/$published"
      changes(published).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles().map(_.toPath)
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(work, "log", f"$published%06d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      published += 1
    }
    val q = PipelineConfig.launch(spark,
      s"""{
         |  "name": "no-spawn",
         |  "input": {"type": "file-changelog", "path": "$work/log",
         |            "schema": "seq BIGINT, op STRING, database STRING, table STRING, id BIGINT, v STRING"},
         |  "pk": ["id"],
         |  "checkpoint": "$work/ckpt",
         |  "output": [{"type": "snapshot", "path": "$work/snapshot", "buckets": 4},
         |             {"type": "kafka-file", "path": "$work/kafka", "partitions": 4}]
         |}""".stripMargin, Trigger.ProcessingTime(0))
    withStream(q) {
      val merged = new SnapshotSink(spark, s"$work/merged", Seq("id"), 4)
      def steady(batches: Int): Unit = {
        (0 until batches).foreach { _ => publish(); q.processAllAvailable() }
        merged.merge(changes(published))
      }
      steady(2) // warm-up
      val started = processesStartedDuring(steady(4))
      assert(started.isEmpty, s"${started.size} processes started:\n${started.mkString("\n")}")
      assert(q.recentProgress.count(_.numInputRows > 0) == 6)
    }
    val kafkaLines = new java.io.File(s"$work/kafka").listFiles().toSeq
      .flatMap(_.listFiles()).map(f => Files.readAllLines(f.toPath).size).sum
    assert(kafkaLines == 6 * 40) // 50 changes over 40 keys per batch, last change per key
  }

  /** `thread: command` of each process the JVM started while `body` ran,
    * from a JFR stream. The stream delivers in commit order, so seeing a
    * marker committed after `body` means every earlier start was seen.
    */
  private def processesStartedDuring(body: => Unit): Seq[String] = {
    val started = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[Marker])
      rs.onEvent("jdk.ProcessStart", e =>
        started.add(s"${e.getThread.getJavaName}: ${e.getString("command")}"))
      rs.onEvent(classOf[Marker].getName, _ => drained.countDown())
      rs.startAsync()
      body
      new Marker().commit()
      assert(drained.await(60, TimeUnit.SECONDS), "JFR stream stalled")
    } finally rs.close()
    started.asScala.toSeq
  }
}

object NioLocalFileSystemSpec {
  /** Committed after the measured work; see `processesStartedDuring`. */
  class Marker extends jdk.jfr.Event
}
