package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.ConsumerPipeline
import graft.streaming.ConsumerPipeline.RawEvent

/** The fork-free local filesystem the streaming operators install
  * (`graft.io.NioLocalFs`): a consumer runs without `chmod`/`readlink`
  * shell-outs, and what it leaves on disk, and every answer the
  * overridden calls give, equal stock Hadoop's. */
class NioLocalFsSpec extends AnyFunSuite with SparkTest {

  private val ContextKey = "fs.AbstractFileSystem.file.impl"
  private val FileSystemKey = "fs.file.impl"
  private val StockFs = "org.apache.hadoop.fs.local.LocalFs"

  private def ts(minute: Int): Timestamp =
    Timestamp.from(java.time.Instant.parse("2024-01-01T10:00:00Z").plusSeconds(60L * minute))

  /** Three micro-batches of five events; events 5k+2 and 5k+4 go to the DLQ. */
  private val waves: Seq[Seq[RawEvent]] = (0 until 3).map { w =>
    (1 to 5).map { i =>
      val id = 5L * w + i
      RawEvent(id, ts(id.toInt), id % 3, if (i == 2) "error" else "click",
        if (i == 4) -1.0 else id.toDouble, s"""{"k": $id}""")
    }
  }

  /** Run `body` with `confs` set on the session (None = unset), then
    * restore what was there. */
  private def withConfs[T](confs: (String, Option[String])*)(body: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def set(kvs: Seq[(String, Option[String])]): Unit = kvs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    set(confs)
    try body finally set(before)
  }

  /** Hadoop's stock local I/O for the queries started in `body`. */
  private def stock[T](body: => T): T =
    withConfs(ContextKey -> Some(StockFs),
      FileSystemKey -> Some(classOf[LocalFileSystem].getName))(body)

  /** graft's default: neither key set by the user. */
  private def graftFs[T](body: => T): T =
    withConfs(ContextKey -> None, FileSystemKey -> None)(body)

  /** Consume `waves` into `root/{ok,dlq,checkpoint}`, one batch each. */
  private def consume(root: String, waves: Seq[Seq[RawEvent]],
      stream: MemoryStream[RawEvent]): Unit = {
    val q = ConsumerPipeline.start(stream.toDF(), s"$root/ok", s"$root/dlq",
      s"$root/checkpoint")
    try waves.foreach { w => stream.addData(w: _*); q.processAllAvailable() }
    finally { q.stop(); q.awaitTermination() }
  }

  private def newStream(): MemoryStream[RawEvent] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    MemoryStream[RawEvent]
  }

  /** Commands of the processes started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val file = Files.createTempFile("process_starts", ".jfr")
      rec.dump(file)
      try RecordingFile.readAllEvents(file).asScala.toSeq.map(_.getString("command"))
      finally Files.delete(file)
    } finally rec.close()
  }

  test("a consumer's checkpoint, state store and sink start no chmod/readlink process") {
    val root = tempDir("nio_consume")
    val probe = tempDir("nio_probe")
    val commands = graftFs {
      processStarts {
        consume(root, waves, newStream())
        // the recorder sees a stock shell-out (self-check)
        val f = new File(probe, "f")
        assert(f.createNewFile())
        val raw = new RawLocalFileSystem()
        raw.initialize(URI.create("file:///"), new Configuration())
        raw.setPermission(new Path(f.getPath), new FsPermission(Integer.parseInt("640", 8).toShort))
      }
    }
    assert(commands.exists(c => c.contains("chmod") && c.contains(probe)),
      s"the recording missed the stock chmod: ${commands.take(5)}")
    val forks = commands.filter(c =>
      (c.contains("chmod") || c.contains("readlink")) && c.contains(root))
    assert(forks.isEmpty, s"${forks.size} shell-outs, e.g. ${forks.take(3).mkString("; ")}")
    assert(spark.read.parquet(s"$root/ok").count() == 9)
    assert(spark.read.parquet(s"$root/dlq").count() == 6)
  }

  /** The full mode (with the sticky bit) of a local file. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def fileSystems: (LocalFileSystem, LocalFileSystem) = {
    val conf = new Configuration()
    val stockFs = new LocalFileSystem()
    stockFs.initialize(URI.create("file:///"), conf)
    val nioFs = new NioLocalFileSystem()
    nioFs.initialize(URI.create("file:///"), conf)
    (stockFs, nioFs)
  }

  test("created files and dirs get the stock permission bits; explicit modes match too") {
    val (stockFs, nioFs) = fileSystems
    val conf = new Configuration()
    conf.set(ContextKey, StockFs)
    val stockFc = FileContext.getFileContext(URI.create("file:///"), conf)
    conf.set(ContextKey, classOf[NioLocalFs].getName)
    val nioFc = FileContext.getFileContext(URI.create("file:///"), conf)
    val dirs = Seq("stock", "nio").map(n => tempDir(s"nio_perm_$n"))
    val created = for ((dir, fs, fc) <- Seq((dirs(0), stockFs, stockFc), (dirs(1), nioFs, nioFc)))
      yield {
        fs.create(new Path(s"$dir/fs_file")).close()
        assert(fs.mkdirs(new Path(s"$dir/fs_dir/sub")))
        fc.create(new Path(s"$dir/fc_file"), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
          .close()
        fc.mkdir(new Path(s"$dir/fc_dir/sub"), FsPermission.getDirDefault, true)
        Seq("fs_file", ".fs_file.crc", "fs_dir", "fs_dir/sub", "fc_file", ".fc_file.crc",
          "fc_dir", "fc_dir/sub").map(n => n -> mode(Paths.get(dir, n)))
      }
    assert(created(0) == created(1))
    for (m <- Seq("600", "640", "755", "700", "1777", "000")) {
      val got = Seq((dirs(0), stockFs), (dirs(1), nioFs)).map { case (dir, fs) =>
        fs.setPermission(new Path(s"$dir/fs_file"), new FsPermission(Integer.parseInt(m, 8).toShort))
        mode(Paths.get(dir, "fs_file"))
      }
      assert(got(0) == got(1) && got(0) == Integer.parseInt(m, 8), s"mode $m: $got")
    }
  }

  /** Everything a status says, with the permission the stock status
    * loads lazily. */
  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.isDirectory, s.isFile, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup, s.getBlockSize, s.getReplication)

  test("getFileLinkStatus equals the stock answer for a file, a dir, a missing path and a link") {
    val (stockFs, nioFs) = fileSystems
    val dir = tempDir("nio_link")
    Files.write(Paths.get(dir, "file"), "x".getBytes)
    Files.createDirectory(Paths.get(dir, "dir"))
    Files.createSymbolicLink(Paths.get(dir, "link"), Paths.get(dir, "file"))
    Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "gone"))
    def answer(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try Right(fields(fs.getFileLinkStatus(p)))
      catch { case e: java.io.IOException => Left(e.getClass.getName) }
    for {
      (stockSide, nioSide) <- Seq((stockFs, nioFs), (stockFs.getRaw, nioFs.getRaw))
      name <- Seq("file", "dir", "link", "dangling")
      // qualified (`file:/…`, what FileContext passes) and bare paths
      p <- Seq(new Path(s"file:$dir/$name"), new Path(s"$dir/$name"))
    } assert(answer(nioSide, p) == answer(stockSide, p), s"${nioSide.getClass.getSimpleName} $p")
    // a bare link path is seen as a link; a qualified one is not
    assert(nioFs.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    assert(!nioFs.getFileLinkStatus(new Path(s"file:$dir/link")).isSymlink)
    for (fs <- Seq(stockFs, nioFs); p <- Seq(s"file:$dir/missing", s"$dir/missing"))
      assertThrows[FileNotFoundException](fs.getFileLinkStatus(new Path(p)))
    assert(classOf[NioRawLocalFileSystem].isInstance(nioFs.getRaw))
  }

  test("a user's own fs.AbstractFileSystem.file.impl and fs.file.impl are left as they are") {
    withConfs(ContextKey -> Some(StockFs), FileSystemKey -> None) {
      NioLocalFs.install(spark)
      assert(spark.conf.get(ContextKey) == StockFs)
      assert(NioLocalFs.writerOptions(spark).get(FileSystemKey)
        .contains(classOf[NioLocalFileSystem].getName))
    }
    withConfs(ContextKey -> None, FileSystemKey -> Some(classOf[LocalFileSystem].getName)) {
      NioLocalFs.install(spark)
      assert(spark.conf.get(ContextKey) == classOf[NioLocalFs].getName)
      assert(NioLocalFs.writerOptions(spark).isEmpty)
    }
  }

  test("a checkpoint written under the stock LocalFs restarts under graft's with no lost or duplicate row") {
    val root = tempDir("nio_restart")
    val stream = newStream()
    stock(consume(root, waves.take(2), stream))
    graftFs(consume(root, waves.drop(2), stream))
    val got = Seq("ok", "dlq").flatMap(d =>
      spark.read.parquet(s"$root/$d").select("event_id").collect().map(_.getLong(0)))
    assert(got.sorted == (1L to 15L))
  }

  /** Relative names of every file under `root`, ids made stable. */
  private def layout(root: String): Seq[String] = {
    val base = Paths.get(root)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString.replaceAll(uuid, "<uuid>")).toSeq.sorted
  }

  test("ok/, dlq/ and checkpoint/ hold the same files, .crc siblings included, under both") {
    val roots = Seq("stock", "nio").map(n => tempDir(s"nio_layout_$n"))
    stock(consume(roots(0), waves, newStream()))
    graftFs(consume(roots(1), waves, newStream()))
    val stockFiles = layout(roots(0))
    assert(stockFiles.exists(_.endsWith(".crc")) && stockFiles.exists(_.startsWith("checkpoint/state/")))
    assert(layout(roots(1)) == stockFiles)
  }
}
