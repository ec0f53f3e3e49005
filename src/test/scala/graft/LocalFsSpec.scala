package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.enrich.Enrich
import graft.ops.PipelineRun
import graft.ops.PipelineRun._

/** The session's local filesystem: writes and checkpoint renames start
  * no `chmod`/`readlink` process, and what they leave on disk matches
  * the stock classes.
  */
class LocalFsSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Root = new URI("file:///")

  /** The `chmod`/`readlink` processes started while `body` runs, read
    * back from an in-process JFR recording of `jdk.ProcessStart`. */
  private def forks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
        .filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    } finally { rec.close(); Files.delete(dump) }
  }

  private def stockConf: Configuration = {
    val c = new Configuration(spark.sessionState.newHadoopConf())
    c.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)
  private def hpath(p: JPath): Path = new Path(p.toUri)

  /** mkdirs, then create a file (and its `.crc`) under the new dir. */
  private def fsOps(fs: FileSystem, dir: JPath): Unit = {
    val d = new Path(hpath(dir), "a/b")
    assert(fs.mkdirs(d))
    val out = fs.create(new Path(d, "part-0"))
    out.write(Array[Byte](1, 2, 3)); out.close()
  }

  /** A checkpoint-log commit: create a temp file, rename it into place. */
  private def fcOps(fc: FileContext, dir: JPath): Unit = {
    val tmpFile = new Path(hpath(dir), ".0.tmp")
    val out = fc.create(tmpFile, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    out.write(Array[Byte](1, 2, 3)); out.close()
    fc.rename(tmpFile, new Path(hpath(dir), "0"), Options.Rename.OVERWRITE)
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  test("sessions resolve file: to the fork-free classes") {
    Seq(spark, spark.newSession()).foreach { s =>
      val conf = s.sessionState.newHadoopConf()
      assert(FileSystem.get(Root, conf).isInstanceOf[ForkFreeLocalFileSystem])
      assert(FileContext.getFileContext(Root, conf).getDefaultFileSystem
        .isInstanceOf[ForkFreeLocalFs])
    }
  }

  test("a partitioned parquet write starts no chmod or readlink") {
    import spark.implicits._
    val df = (1 to 40).map(i => (i, s"c${i % 4}", s"p${i % 3}")).toDF("id", "c", "p")
    val out = tmp("lfs-pq").resolve("out").toString
    val started = forks(df.repartition(2).write.partitionBy("c", "p").parquet(out))
    assert(started.size == 0, started.take(3))
    assert(spark.read.parquet(out).count() == 40)
  }

  test("FileSystem and FileContext writes: none forked, stock classes fork") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.newInstance(Root, conf)
    val stockFs = FileSystem.newInstance(Root, stockConf)
    try {
      assert(forks(fsOps(fs, tmp("lfs-fs"))).isEmpty)
      assert(forks(fcOps(FileContext.getFileContext(Root, conf), tmp("lfs-fc"))).isEmpty)
      // the counter sees a regression: same operations, stock classes
      assert(forks(fsOps(stockFs, tmp("lfs-fs0"))).nonEmpty)
      assert(forks(fcOps(FileContext.getFileContext(Root, stockConf), tmp("lfs-fc0")))
        .exists(_.startsWith("readlink")))
    } finally { fs.close(); stockFs.close() }
  }

  test("setPermission writes the same mode bits; a sticky bit falls back") {
    val raw = new ForkFreeRawLocalFileSystem
    raw.initialize(Root, new Configuration())
    val dir = tmp("lfs-mode")
    val f = Files.createFile(dir.resolve("f"))
    Seq("600", "644", "700", "755", "777").foreach { m =>
      val perm = new FsPermission(octal(m).toShort)
      raw.setPermission(hpath(f), perm)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
        == perm.toString, m)
    }
    val sticky = Files.createDirectory(dir.resolve("shared"))
    raw.setPermission(hpath(sticky), new FsPermission(octal("1777").toShort))
    assert(mode(sticky) == octal("1777"))
  }

  test("getFileLinkStatus: a symlink reports its target, a file its plain status") {
    val raw = new ForkFreeRawLocalFileSystem
    raw.initialize(Root, new Configuration())
    val dir = tmp("lfs-link")
    val target = Files.write(dir.resolve("target"), Array[Byte](1, 2, 3, 4))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    // stock readlink resolves only a scheme-less path
    val ls = raw.getFileLinkStatus(new Path(link.toString))
    assert(ls.isSymlink)
    assert(ls.getSymlink.toUri.getPath == target.toString)

    val st = raw.getFileStatus(hpath(target))
    val lst = raw.getFileLinkStatus(hpath(target))
    assert(!lst.isSymlink)
    assert((lst.getLen, lst.isDirectory, lst.getModificationTime)
      == ((st.getLen, st.isDirectory, st.getModificationTime)))
  }

  test("a PipelineRun sink keeps the stock modes: files 0644, dirs 0755") {
    val sink = tmp("lfs-sink").resolve("out")
    PipelineRun.run(Enrich.curated(Tables(spark, Sf0001).events),
      tmp("lfs-ops").toString, sink.toString,
      new RecordingNotifier, new RecordingTrigger)
    val (dirs, files) = Files.walk(sink).iterator().asScala.toSeq
      .partition(Files.isDirectory(_))
    assert(files.nonEmpty && dirs.size > 1)
    files.foreach(p => assert(mode(p) == octal("644"), p))
    dirs.foreach(p => assert(mode(p) == octal("755"), p))
  }
}
