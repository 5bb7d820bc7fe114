package graft.fs

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The engine's `file:` filesystem forks nothing where Hadoop's own forks
  * `chmod` and `readlink`, and leaves the same files, `.crc` siblings and
  * POSIX modes behind. Forks are counted as `jdk.ProcessStart` events on
  * the calling thread.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  /** A Hadoop conf with the engine conf's `spark.hadoop.*` entries, as
    * Spark builds it for a session; without them, Hadoop's stock classes.
    */
  private def hadoopConf(engine: Boolean): Configuration = {
    val c = new Configuration()
    if (engine) GraftSession.engineConf.foreach { case (k, v) =>
      if (k.startsWith("spark.hadoop.")) c.set(k.stripPrefix("spark.hadoop."), v)
    }
    c
  }

  /** `body`'s result and the commands it started on this thread. */
  private def forks[T](body: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val thread = Thread.currentThread().getId
    rec.start()
    val out = try body finally rec.stop()
    val file = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(file)
      val events = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          e.getThread != null && e.getThread.getJavaThreadId == thread)
      (out, events.map(_.getString("command")))
    } finally { rec.close(); Files.delete(file) }
  }

  private def write(out: java.io.OutputStream, text: String): Unit =
    try out.write(text.getBytes(UTF_8)) finally out.close()

  /** What the streaming checkpoint and lake commit paths do: mkdirs,
    * create and write, a `FileContext` rename onto a fresh and onto an
    * existing target, a chmod, and link-status lookups.
    */
  private def sequence(root: java.nio.file.Path, conf: Configuration): Seq[Any] = {
    val fs = FileSystem.newInstance(root.toUri, conf)
    try {
      val fc = FileContext.getFileContext(conf)
      val dir = new Path(root.toUri.toString, "a/b")
      assert(fs.mkdirs(dir))
      write(fs.create(new Path(dir, "f")), "written by FileSystem")
      val create = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
      val target = new Path(dir, "renamed")
      Seq("first", "second").foreach { text =>
        val tmp = new Path(dir, s".$text.tmp")
        write(fc.create(tmp, create, Options.CreateOpts.createParent()), text)
        fc.rename(tmp, target, Options.Rename.OVERWRITE)
      }
      fs.setPermission(new Path(dir, "f"), new FsPermission(Integer.parseInt("640", 8).toShort))
      Seq(fs.getClass.getName, fc.getDefaultFileSystem.getClass.getName,
        status(fs.getFileLinkStatus(new Path(dir, "f"))),
        status(fc.getFileLinkStatus(target)),
        status(fs.getFileLinkStatus(dir)))
    } finally fs.close()
  }

  private def status(s: FileStatus): (String, Boolean, Boolean, Long, String) =
    (s.getPath.getName, s.isSymlink, s.isDirectory, s.getLen,
      if (s.isSymlink) s.getSymlink.toString else "")

  /** Every path under `root` with its kind, mode and content. */
  private def tree(root: java.nio.file.Path): Seq[(String, String, String)] =
    Files.walk(root).iterator().asScala.toSeq.filter(_ != root).map { p =>
      val mode = java.nio.file.attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(p))
      val body = if (Files.isDirectory(p)) "<dir>"
        else java.util.Arrays.toString(Files.readAllBytes(p))
      (root.relativize(p).toString, mode, body)
    }.sortBy(_._1)

  private def run(engine: Boolean) = {
    val root = Files.createTempDirectory("graft_fs_spec")
    try {
      val (result, started) = forks(sequence(root, hadoopConf(engine)))
      (result, started, tree(root))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("the engine conf's file: filesystem forks nothing and leaves what Hadoop's leaves") {
    val (stock, stockForks, stockTree) = run(engine = false)
    val (nio, nioForks, nioTree) = run(engine = true)
    // Hadoop's `file:` FileSystem here is whatever its service loader picks
    // (Hive's ProxyLocalFileSystem on Spark's jars, over a LocalFileSystem)
    assert(stock(1) == classOf[LocalFs].getName)
    assert(nio.take(2) == Seq(classOf[NioLocalFileSystem].getName, classOf[NioLocalFs].getName))
    assert(stockForks.nonEmpty, "the recording must see Hadoop's own chmod/readlink forks")
    assert(nioForks.isEmpty, s"forked: ${nioForks.mkString("; ")}")
    assert(nio.drop(2) == stock.drop(2))
    assert(nioTree == stockTree)
    assert(nioTree.map(_._1).toSet == Set("a", "a/b", "a/b/f", "a/b/.f.crc",
      "a/b/renamed", "a/b/.renamed.crc"))
    assert(nioTree.find(_._1 == "a/b/f").get._2 == "rw-r-----")
  }

  test("links take Hadoop's own path and report what it reports") {
    val root = Files.createTempDirectory("graft_fs_links")
    try {
      val file = Files.write(root.resolve("file"), "x".getBytes(UTF_8))
      Files.createSymbolicLink(root.resolve("link"), file)
      Files.createSymbolicLink(root.resolve("dangling"), root.resolve("missing"))
      def links(engine: Boolean) = {
        val fs = FileSystem.newInstance(root.toUri, hadoopConf(engine))
        try Seq("link", "dangling", "file").flatMap { name =>
          // a bare path and a file: URI resolve links differently in Hadoop
          Seq(new Path(root.resolve(name).toString), new Path(root.resolve(name).toUri))
            .map(p => Try(status(fs.getFileLinkStatus(p))).fold(_.getClass.getName, identity))
        } finally fs.close()
      }
      val stock = links(engine = false)
      assert(stock.exists { case (_, link: Boolean, _, _, _) => link; case _ => false },
        "a bare link path must report a link in Hadoop's path")
      assert(links(engine = true) == stock)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("a mode with bits past rwx still goes through Hadoop's chmod") {
    val root = Files.createTempDirectory("graft_fs_sticky")
    try {
      val fs = FileSystem.newInstance(root.toUri, hadoopConf(engine = true))
      try {
        val dir = new Path(root.toUri.toString, "d")
        assert(fs.mkdirs(dir))
        val (_, started) = forks(fs.setPermission(dir,
          new FsPermission(Integer.parseInt("1777", 8).toShort)))
        assert(started.exists(_.contains("chmod")))
        assert(fs.getFileStatus(dir).getPermission.getStickyBit)
        assert(Files.getPosixFilePermissions(Paths.get(root.toString, "d")).size == 9)
      } finally fs.close()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
