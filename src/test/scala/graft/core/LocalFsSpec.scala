package graft.core

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption}
import java.util.EnumSet
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.SparkSpec
import graft.examples.Examples
import graft.streaming.{Message, TopicProcessor, TopicProcessorConfig}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem,
  FileUtil, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The fork-free `file:` filesystem ([[LocalFs]]): the engine's sessions
  * use it, a streaming batch starts no OS process, and it leaves the same
  * files, modes and statuses as Hadoop's own local filesystem.
  */
class LocalFsSpec extends SparkSpec {
  import LocalFsSpec._

  private val fileUri = new URI("file:///")

  /** The OS processes started while `body` runs, from JFR's
    * `jdk.ProcessStart` events recorded in-process. A fence process
    * started after `body` closes the count: the stream delivers events in
    * commit order, so once the fence's event is in, every earlier start
    * is too, and its arrival shows the recorder sees process starts at all.
    */
  private def processStartsDuring(body: => Unit): Seq[Start] = {
    val fence = s"graft-fence-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[Start]
    val fenced = new CountDownLatch(1)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        if (cmd.contains(fence)) fenced.countDown()
        else if (fenced.getCount > 0) seen.add(Start(cmd, e.getStackTrace.getFrames.asScala.toSeq
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")))
      })
      rs.startAsync()
      body
      new ProcessBuilder("true", fence).start().waitFor()
      assert(fenced.await(60, TimeUnit.SECONDS), "JFR delivered no event for the fence process")
    } finally rs.close()
    seen.asScala.toSeq
  }

  /** kasper's word count through `TopicProcessor.runWith`, 5 batches of
    * 200 messages over 16 words, each written by a parquet `foreachBatch`
    * sink; returns the process starts from query start to stop.
    */
  private def wordCountProcessStarts(): Seq[Start] = withTempDir("graft_nofork") { dir =>
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tp = new TopicProcessor(TopicProcessorConfig(name = s"nofork-${System.nanoTime()}",
      inputTopics = Seq("words"), batchWait = "0 seconds", checkpointDir = s"$dir/ckpt"),
      Examples.wordCount)
    val in = MemoryStream[Message]
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // once-per-JVM probes, made now so they are not counted: Spark's page
    // size probe (`getconf PAGESIZE`) on the first executor heartbeat, and
    // RocksJava's musl probe when its native library loads
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    org.rocksdb.RocksDB.loadLibrary()
    val starts = processStartsDuring {
      val q = tp.runWith(in.toDS()) { (df, epoch) => df.write.parquet(s"$dir/sink/epoch=$epoch") }
      try (0 until 5).foreach { b =>
        in.addData((0 until 200).map { i =>
          val off = b * 200L + i
          Message("words", 0, off, Array.emptyByteArray, s"w${off % 16} w${off * 7 % 16}"
            .getBytes(UTF_8), ts)
        })
        q.processAllAvailable()
      } finally { q.stop(); spark.streams.removeListener(tp.listener) }
    }
    val written = (0 until 5).count(e => Files.exists(dir.resolve(s"sink/epoch=$e/_SUCCESS")))
    assert(written == 5, "every batch must reach the parquet sink")
    starts
  }

  /** Spark's `JavaUtils.deleteRecursively` removes a directory with `rm
    * -rf` on every Unix but macOS under test: the RocksDB store's local
    * working and checkpoint directories each batch, and the artifact
    * directory of a session another suite dropped, which a cleaner thread
    * may remove during any run. Hadoop's filesystem starts none this way.
    */
  private def sparkDelete(s: Start): Boolean =
    s.frames.contains("org.apache.spark.network.util.JavaUtils.deleteRecursivelyUsingUnixNative")

  private def assertNoStarts(starts: Seq[Start]): Unit =
    assert(starts.isEmpty, s"${starts.size} process starts, e.g. ${starts.take(5).map(_.command)}")

  test("a word-count stream with a parquet sink starts no process but Spark's rm -rf, on the default state store") {
    assertNoStarts(wordCountProcessStarts().filterNot(sparkDelete))
  }

  test("a word-count stream with a parquet sink starts no process but Spark's rm -rf, on the RocksDB state store") {
    assertNoStarts(withRocksDbStateStore(wordCountProcessStarts()).filterNot(sparkDelete))
  }

  test("file: resolves to the fork-free classes through the session's Hadoop confs") {
    Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf()).foreach { conf =>
      // FileSystem.get serves a cached instance keyed by scheme, authority
      // and user, not by conf: the served instance is checked, so a stock
      // one that was created before the session is caught here
      val fs = FileSystem.get(fileUri, conf)
      assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[ForkFreeRawLocalFileSystem])
      assert(FileContext.getFileContext(fileUri, conf).getDefaultFileSystem.getClass ==
        classOf[ForkFreeLocalFs])
    }
  }

  private def sides(): (Side, Side) = {
    val conf = new Configuration()
    val stockFs = new LocalFileSystem()
    stockFs.initialize(fileUri, conf)
    val stockAfs = AbstractFileSystem.createFileSystem(fileUri, conf)
    assert(stockAfs.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    val forkFree = new ForkFreeLocalFileSystem()
    forkFree.initialize(fileUri, conf)
    (Side(stockFs, FileContext.getFileContext(stockAfs, conf)),
      Side(forkFree, FileContext.getFileContext(new ForkFreeLocalFs(fileUri, conf), conf)))
  }

  private def perm(mode: Int) = new FsPermission(mode.toShort)

  private def write(out: java.io.OutputStream): Unit =
    try out.write("payload".getBytes(UTF_8)) finally out.close()

  private def touch(s: Side, p: Path): Unit = write(s.fs.create(p))

  private def kind(st: FileStatus): String =
    if (st.isSymlink) "link" else if (st.isDirectory) "dir" else "file"

  /** Everything under `base` as both sides would see it: each entry's
    * relative path, kind, mode bits and size, its `FileStatus` through
    * `FileSystem.getFileStatus` and `FileContext.getFileLinkStatus`
    * (kind, length, permission), on unqualified and qualified paths.
    */
  private def snapshot(s: Side, base: java.nio.file.Path): Seq[String] = {
    val walk = Files.walk(base)
    val entries = try walk.iterator().asScala.toList finally walk.close()
    entries.map { p =>
      val rel = base.relativize(p)
      val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
        .asInstanceOf[Int] & 0xfff
      val size = if (Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS)) Files.size(p) else -1L
      val onDisk =
        if (Files.isSymbolicLink(p)) "link" else if (Files.isDirectory(p)) "dir" else "file"
      def st(f: => FileStatus) = Try(f).fold(_.getClass.getSimpleName,
        x => s"${kind(x)} ${x.getLen} ${x.getPermission}")
      val statuses = Seq(new Path(p.toString), new Path(p.toUri)).flatMap(hp =>
        Seq(st(s.fs.getFileStatus(hp)), st(s.fc.getFileLinkStatus(hp))))
      f"$rel%s $onDisk%s $mode%o $size%d " + statuses.mkString(" | ")
    }.sorted
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private val modes = Seq("600", "644", "700", "755").map(octal)

  private val cases: Seq[Case] = modes.flatMap { m =>
    Seq(
      Case(f"FileSystem.create $m%o", Some(m), (s, d) =>
        write(s.fs.create(new Path(d, "x"), perm(m), true, 4096, 1.toShort, 1L << 25, null))),
      Case(f"FileContext.create $m%o", Some(m), (s, d) =>
        write(s.fc.create(new Path(d, "x"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(perm(m))))),
      Case(f"FileSystem.mkdirs $m%o", Some(m), { (s, d) =>
        assert(s.fs.mkdirs(new Path(d, "x"), perm(m)))
        assert(s.fs.mkdirs(new Path(d, "p/q"), perm(m)))
      }),
      Case(f"FileContext.mkdir $m%o", Some(m), { (s, d) =>
        s.fc.mkdir(new Path(d, "x"), perm(m), false)
        s.fc.mkdir(new Path(d, "p/q"), perm(m), true)
      }),
      Case(f"setPermission $m%o on a file and a directory", Some(m), { (s, d) =>
        touch(s, new Path(d, "x"))
        s.fs.setPermission(new Path(d, "x"), perm(m))
        s.fs.mkdirs(new Path(d, "dir"))
        s.fc.setPermission(new Path(d, "dir"), perm(m))
      }))
  } ++ Seq(
    Case("FileSystem.rename onto a new name", None, { (s, d) =>
      touch(s, new Path(d, "a"))
      assert(s.fs.rename(new Path(d, "a"), new Path(d, "x")))
    }),
    Case("FileSystem rename with overwrite onto an existing file", None, { (s, d) =>
      touch(s, new Path(d, "a")); touch(s, new Path(d, "x"))
      FileUtil.rename(s.fs, new Path(d, "a"), new Path(d, "x"), Options.Rename.OVERWRITE)
    }),
    Case("FileSystem rename without overwrite onto an existing file", None, { (s, d) =>
      touch(s, new Path(d, "a")); touch(s, new Path(d, "x"))
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
        FileUtil.rename(s.fs, new Path(d, "a"), new Path(d, "x"), Options.Rename.NONE))
    }),
    Case("FileContext.rename onto a new name", None, { (s, d) =>
      touch(s, new Path(d, "a"))
      s.fc.rename(new Path(d, "a"), new Path(d, "x"))
    }),
    Case("FileContext.rename with overwrite onto an existing file", None, { (s, d) =>
      touch(s, new Path(d, "a")); touch(s, new Path(d, "x"))
      s.fc.rename(new Path(d, "a"), new Path(d, "x"), Options.Rename.OVERWRITE)
    }),
    Case("FileContext.rename without overwrite onto an existing file", None, { (s, d) =>
      touch(s, new Path(d, "a")); touch(s, new Path(d, "x"))
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
        s.fc.rename(new Path(d, "a"), new Path(d, "x"), Options.Rename.NONE))
    }),
    Case("FileContext.rename of a directory with overwrite onto an empty one", None, { (s, d) =>
      touch(s, new Path(d, "a/f")); s.fs.mkdirs(new Path(d, "x"))
      s.fc.rename(new Path(d, "a"), new Path(d, "x"), Options.Rename.OVERWRITE)
    }),
    Case("a symlink is renamed and its status read through Hadoop's own path", None, { (s, d) =>
      touch(s, new Path(d, "target"))
      Files.createSymbolicLink(java.nio.file.Paths.get(d.toUri.getPath, "link"),
        java.nio.file.Paths.get("target"))
      // an unqualified path reaches readlink, which reports the link
      assert(s.fc.getFileLinkStatus(new Path(d.toUri.getPath, "link")).isSymlink)
      s.fc.rename(new Path(d, "link"), new Path(d, "x"))
    }),
    Case("a sticky bit goes through Hadoop's own chmod", Some(octal("1755")), { (s, d) =>
      s.fs.mkdirs(new Path(d, "x"))
      s.fs.setPermission(new Path(d, "x"), perm(octal("1755")))
    }))

  test("the fork-free and stock local filesystems leave the same files, modes and statuses") {
    val (stock, forkFree) = sides()
    withTempDir("graft_localfs") { root =>
      cases.zipWithIndex.foreach { case (c, i) =>
        val Seq(a, b) = Seq("stock", "forkfree").map(n => Files.createDirectories(root.resolve(s"$i/$n")))
        c.op(stock, new Path(a.toUri))
        c.op(forkFree, new Path(b.toUri))
        val (sa, sb) = (snapshot(stock, a), snapshot(forkFree, b))
        assert(sa == sb, s"${c.name}:\nstock     $sa\nfork-free $sb")
        c.expectMode.foreach { m =>
          val got = Files.getAttribute(b.resolve("x"), "unix:mode").asInstanceOf[Int] & 0xfff
          assert(got == m, f"${c.name}: mode $got%o, expected $m%o")
        }
      }
    }
  }
}

object LocalFsSpec {
  /** An OS process start: its command and the methods on its stack. */
  final case class Start(command: String, frames: Seq[String])

  /** One local filesystem through both Hadoop APIs. */
  final case class Side(fs: FileSystem, fc: FileContext)

  /** An operation on a fresh directory; `expectMode` is the mode its
    * entry `x` must end with.
    */
  final case class Case(name: String, expectMode: Option[Int], op: (Side, Path) => Unit)
}
