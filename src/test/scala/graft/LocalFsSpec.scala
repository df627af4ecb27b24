package graft

import java.io.File
import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming.{MatchRecognizeSql, StreamSource}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** graft.LocalFs: streaming checkpoints are written without a shell fork,
  * keep their Hadoop `.crc` sidecars, and the shim's two overrides give
  * what stock RawLocalFileSystem gives. */
class LocalFsSpec extends SparkSpec {

  private val dir = Files.createTempDirectory("graft-localfs-spec")

  private def local[T <: RawLocalFileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = local(new RawLocalFileSystem)
  private lazy val shim = local(new LocalFs)

  /** Command lines of the processes started while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val out = dir.resolve(s"rec-${System.nanoTime()}.jfr")
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally rec.close()
  }

  private def files(root: File): Seq[File] =
    Option(root.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  test("a drained MATCH_RECOGNIZE stream writes its checkpoint without a shell fork") {
    val root = new File(StreamSource.ckptRoot)
    val before = Option(root.list()).fold(Set.empty[String])(_.toSet)
    val forks = processStarts {
      // the recording sees a process this JVM starts
      new ProcessBuilder("true").start().waitFor()
      assert(MatchRecognizeSql.matchPlus(spark, sf).count() > 0)
    }
    assert(forks.exists(_.startsWith("true")), s"recording saw no process start: $forks")
    val created = root.list().toSet -- before
    val ckpt = created.filter(_.startsWith("sql_match_")).toSeq match {
      case Seq(one) => new File(root, one)
      case other => fail(s"expected one new sql_match_ checkpoint, got $other")
    }
    val shell = forks.filter(c => (c.startsWith("readlink") || c.startsWith("chmod")) &&
      c.contains(ckpt.getName))
    assert(shell.size === 0, s"shell forks under $ckpt, e.g. ${shell.take(3)}")

    // the shim is what the session's FileContexts now resolve `file:` to
    val fc = FileContext.getFileContext(URI.create("file:///"), spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Checksummed])

    // Hadoop's checksum sidecars are still written beside every log entry
    // and state-store delta
    val all = files(ckpt)
    def crcOf(f: File) = new File(f.getParentFile, s".${f.getName}.crc")
    for (log <- Seq("offsets", "commits")) {
      val entries = all.filter(f => f.getParentFile.getName == log && !f.getName.startsWith("."))
      assert(entries.nonEmpty, s"no $log entries in $ckpt")
      entries.foreach(f => assert(crcOf(f).isFile, s"no .crc beside $f"))
    }
    val deltas = all.filter(_.getName.endsWith(".delta"))
    assert(deltas.nonEmpty, s"no state-store deltas in $ckpt")
    deltas.foreach(f => assert(crcOf(f).isFile, s"no .crc beside $f"))
  }

  test("setPermission gives stock Hadoop's mode, and hands the sticky bit back to it") {
    def mode(p: java.nio.file.Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    for (octal <- Seq("644", "755", "700")) {
      val a = Files.createTempFile(dir, "stock", ""); val b = Files.createTempFile(dir, "shim", "")
      stock.setPermission(new Path(a.toUri), perm(octal))
      shim.setPermission(new Path(b.toUri), perm(octal))
      assert(mode(a) === Integer.parseInt(octal, 8) && mode(b) === mode(a), octal)
    }
    // nio cannot set the sticky bit: stock chmod does
    val sticky = Files.createTempDirectory(dir, "sticky")
    shim.setPermission(new Path(sticky.toUri), perm("1755"))
    assert(mode(sticky) === Integer.parseInt("1755", 8))
  }

  test("getFileLinkStatus matches stock RawLocalFileSystem on a file and on a symlink") {
    val file = Files.write(dir.resolve("regular"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    def fields(s: FileStatus) = (s.getPath, s.isSymlink, s.isDirectory, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) s.getSymlink else null)
    for (p <- Seq(file, link); path <- Seq(new Path(p.toUri), new Path(p.toString))) {
      assert(fields(shim.getFileLinkStatus(path)) === fields(stock.getFileLinkStatus(path)), path)
    }
  }
}
