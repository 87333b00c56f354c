package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Contract of [[LocalCheckpointFileManager]]: Spark's atomic-create
  * rules, Hadoop's checksums, Hadoop's results for the one primitive it
  * reimplements, JVM-wide local filesystem settings, and checkpoints that
  * either manager can resume. */
class CheckpointFileManagerSpec extends AnyFunSuite {

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val conf = new Configuration()

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("checkpoint-file-manager-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(ManagerKey, classOf[LocalCheckpointFileManager].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def hadoopPath(p: JPath) = new Path(p.toUri)

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("createAtomic without overwrite throws FileAlreadyExistsException and keeps the old bytes") {
    val dir = TempDirs("ckpt_atomic")
    val fm = new LocalCheckpointFileManager(hadoopPath(dir), conf)
    val p = new Path(hadoopPath(dir), "f")
    write(fm, p, "old", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
    assert(read(fm, p) === "old")
    write(fm, p, "newer", overwrite = true)
    assert(read(fm, p) === "newer")
    // the refused write leaves its temp file, as Spark's own managers do
    assert(names(dir).filterNot(_.contains(".tmp")) === Set("f", ".f.crc"))
  }

  test("cancel leaves no file, no temp file and no sidecar") {
    val dir = TempDirs("ckpt_cancel")
    val fm = new LocalCheckpointFileManager(hadoopPath(dir), conf)
    val out = fm.createAtomic(new Path(hadoopPath(dir), "f"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("a file altered after the write fails its checksum on read") {
    // Spark's default manager creates with ChecksumOpt.createDisabled(), so
    // its sidecars hold no sums and the same alteration reads back silently
    val dir = TempDirs("ckpt_crc")
    val fm = new LocalCheckpointFileManager(hadoopPath(dir), conf)
    val p = new Path(hadoopPath(dir), "f")
    write(fm, p, "checkpointed bytes", overwrite = false)
    val f = dir.resolve("f")
    val bytes = Files.readAllBytes(f)
    bytes(0) = 'C'.toByte
    Files.write(f, bytes)
    intercept[ChecksumException](read(fm, p))
    // the corrupt file stays where it is for the operator to inspect
    assert(names(dir) === Set("f", ".f.crc"))
  }

  test("checkpoint files take the JVM's local filesystem settings, not each session's") {
    // the shared filesystem is built once, on Hadoop's cached `file:`
    // configuration; a manager's own umask never reaches its files
    def created(umask: String): Set[PosixFilePermission] = {
      val dir = TempDirs("ckpt_umask")
      val c = new Configuration(conf)
      c.set("fs.permissions.umask-mode", umask)
      write(new LocalCheckpointFileManager(hadoopPath(dir), c),
        new Path(hadoopPath(dir), "f"), "x", overwrite = false)
      Files.getPosixFilePermissions(dir.resolve("f")).asScala.toSet
    }
    val strict = created("077")
    assert(strict === created("022"))
    assert(strict.contains(PosixFilePermission.OWNER_READ))
  }

  /** A file, a directory, a relative symlink to the file, a dangling
    * symlink and a name that does not exist. */
  private def linkFixture(): JPath = {
    val dir = TempDirs("ckpt_links")
    Files.write(dir.resolve("file"), "abc".getBytes(UTF_8))
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), java.nio.file.Paths.get("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), java.nio.file.Paths.get("nowhere"))
    dir
  }
  private val Kinds = Seq("file", "dir", "link", "dangling", "missing")

  private def rawPair(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val stock = new RawLocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    val nio = new LocalCheckpointFileManager.NioRawLocalFileSystem
    nio.initialize(URI.create("file:///"), conf)
    (stock, nio)
  }

  test("setPermission matches Hadoop's on files, directories, symlinks and missing paths") {
    val dir = linkFixture()
    val (stock, nio) = rawPair()
    def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    def reset(): Unit = {
      Files.setPosixFilePermissions(dir.resolve("file"),
        java.nio.file.attribute.PosixFilePermissions.fromString("rw-------"))
      Files.setPosixFilePermissions(dir.resolve("dir"),
        java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    }
    // 1777 sets the sticky bit, which NIO cannot; it takes Hadoop's path
    for (mask <- Seq("000", "644", "755", "777", "1777"); kind <- Kinds) {
      val perm = new FsPermission(Integer.parseInt(mask, 8).toShort)
      val target = dir.resolve(kind)
      def outcome(fs: RawLocalFileSystem): Either[Boolean, Int] = {
        reset()
        Try(fs.setPermission(new Path(target.toString), perm))
          .map(_ => mode(target)).toEither.left.map(_.isInstanceOf[IOException])
      }
      val expected = outcome(stock)
      assert(outcome(nio) === expected, s"$mask on $kind")
      if (kind == "file" || kind == "dir" || kind == "link")
        assert(expected === Right(Integer.parseInt(mask, 8)), s"$mask on $kind")
      else assert(expected === Left(true), s"$mask on $kind")
    }
    intercept[FileNotFoundException](
      nio.setPermission(new Path(dir.resolve("missing").toString), FsPermission.getFileDefault))
  }

  test("a path outside file: goes to Spark's default manager") {
    val dir = TempDirs("ckpt_viewfs")
    val vconf = new Configuration(conf)
    vconf.set("fs.viewfs.mounttable.ckspec.link./ck", dir.toUri.toString)
    val fm = new LocalCheckpointFileManager(new Path("viewfs://ckspec/ck"), vconf)
    assert(fm.underlying.isInstanceOf[FileContextBasedCheckpointFileManager])
    write(fm, new Path("viewfs://ckspec/ck/f"), "via viewfs", overwrite = false)
    assert(new String(Files.readAllBytes(dir.resolve("f")), UTF_8) === "via viewfs")
    assert(new LocalCheckpointFileManager(hadoopPath(dir), conf).underlying
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  /** Five JSON event files, one micro-batch each, a day apart so no
    * event is late; the last one advances the watermark past the window. */
  private def eventFiles(): Seq[(String, String)] = (1 to 5).map { day =>
    val rows = (1 to 8).map { u =>
      val kind = Seq("signup", "purchase", "browse")((u + day) % 3)
      s"""{"user_id":$u,"event_type":"$kind","ts":"2024-01-0${day}T0$u:00:00"}"""
    } ++ (if (day == 5) Seq("""{"user_id":99,"event_type":"browse","ts":"2024-03-01T00:00:00"}""")
          else Nil)
    f"day$day.json" -> rows.mkString("\n")
  }

  private def addFiles(src: JPath, files: Seq[(String, String)]): Unit = {
    val base = System.currentTimeMillis() - 100000
    files.foreach { case (name, body) =>
      val f = src.resolve(name)
      Files.write(f, body.getBytes(UTF_8))
      f.toFile.setLastModified(base + name.filter(_.isDigit).toLong * 10000)
    }
  }

  /** Runs the evicting retention stream over whatever `src` holds, one
    * file per batch, under `managerClass` (None: Spark's default), and
    * returns the rows it emitted. */
  private def runStream(src: JPath, ckpt: JPath, managerClass: Option[String]): Seq[String] = {
    val emitted = new ConcurrentLinkedQueue[String]()
    val before = spark.conf.getOption(ManagerKey)
    managerClass match {
      case Some(c) => spark.conf.set(ManagerKey, c)
      case None => spark.conf.unset(ManagerKey)
    }
    try {
      val events = spark.readStream
        .schema("user_id LONG, event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .json(src.toString)
      val q = StatefulRetention
        .perUserStatsEvicting(events, "2024-01-01", 7, "signup", "purchase")
        .toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => emitted.add(s"${r.getLong(0)} ${r.get(1)}"))
        }
        .start()
      try q.awaitTermination() finally q.stop()
    } finally before match {
      case Some(c) => spark.conf.set(ManagerKey, c)
      case None => spark.conf.unset(ManagerKey)
    }
    emitted.asScala.toSeq
  }

  private def tree(root: JPath): Set[String] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSet
    finally s.close()
  }

  test("a retention stream stopped after 2 of 5 batches resumes under the other manager") {
    val graftManager = Some(classOf[LocalCheckpointFileManager].getName)
    val files = eventFiles()
    def uninterrupted(manager: Option[String]): (Seq[String], Set[String]) = {
      val src = TempDirs("ckpt_src")
      val ckpt = TempDirs("ckpt_run")
      addFiles(src, files)
      (runStream(src, ckpt, manager).sorted, tree(ckpt))
    }
    val (expected, sparkFiles) = uninterrupted(None)
    val (graftEmitted, graftFiles) = uninterrupted(graftManager)
    assert(graftEmitted === expected)
    // the same files: deltas, Spark's checksum files, .crc sidecars, logs
    assert(graftFiles === sparkFiles)
    assert(sparkFiles.exists(_.endsWith(".delta.crc")) && sparkFiles.exists(_.endsWith(".crc.crc")))
    assert(expected.nonEmpty)

    for ((first, second) <- Seq(None -> graftManager, graftManager -> None)) {
      val src = TempDirs("ckpt_src")
      val ckpt = TempDirs("ckpt_run")
      addFiles(src, files.take(2))
      val head = runStream(src, ckpt, first)
      addFiles(src, files.drop(2))
      val tail = runStream(src, ckpt, second)
      assert((head ++ tail).sorted === expected, s"$first then $second")
    }
  }
}
