package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLocalFileSystem
import graft.streaming.GraftCheckpointFileManager

/** The checkpoint-file contract Structured Streaming relies on, held
  * by the session's checkpoint manager on a local directory: atomic
  * create with and without overwrite, checksummed reads, and the
  * same permission bits as the stock local FileSystem.
  */
class CheckpointFileContractSpec extends AnyFunSuite {
  import CheckpointFileContractSpec._

  lazy val spark = SparkTestSession.spark

  private def manager(dir: JPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toString), spark.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic without overwrite refuses an existing file; with overwrite replaces it") {
    val dir = Files.createTempDirectory("ckpt_contract")
    val fm = manager(dir)
    val p = new Path(dir.toString, "0")
    write(fm, p, "original", overwrite = false)
    intercept[java.io.IOException] { write(fm, p, "clobber", overwrite = false) }
    assert(read(fm, p) === "original")
    write(fm, p, "replaced", overwrite = true)
    assert(read(fm, p) === "replaced")
  }

  test("the .crc sidecar is written and a flipped byte fails the read") {
    val dir = Files.createTempDirectory("ckpt_crc")
    val fm = manager(dir)
    val p = new Path(dir.toString, "1")
    write(fm, p, "v1\n{\"batchWatermarkMs\":0}", overwrite = false)
    assert(Files.isRegularFile(dir.resolve(".1.crc")))
    val raf = new RandomAccessFile(dir.resolve("1").toFile, "rw")
    try {
      raf.seek(4)
      val b = raf.read()
      raf.seek(4)
      raf.write(b ^ 0x01)
    } finally raf.close()
    intercept[ChecksumException] { read(fm, p) }
  }

  test("created files and directories carry stock LocalFileSystem's mode bits") {
    /** Every entry under `root` (checksum sidecars included) and its
      * mode bits, set-id and sticky included.
      */
    def modes(root: JPath): Map[String, Int] =
      Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
        root.relativize(p).toString ->
          (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
      }.toMap
    /** A fresh root with a set-group-id subdirectory, whose new
      * subdirectories inherit the bit.
      */
    def newRoot(): JPath = {
      val root = Files.createTempDirectory("ckpt_modes")
      val setgid = Files.createDirectory(root.resolve("sg"))
      Files.setAttribute(setgid, "unix:mode", Integer.valueOf(0x5ed)) // 02755
      root
    }
    val dirs = Seq("a/b", "sg/c/d")
    val files = Seq("a/b/f", "sg/c/d/f", "a/g")

    def viaFs(fs: FileSystem): Map[String, Int] = {
      val root = newRoot()
      dirs.foreach(d => assert(fs.mkdirs(new Path(root.toString, d))))
      files.foreach { f =>
        val out = fs.create(new Path(root.toString, f))
        out.write(1); out.close()
      }
      modes(root)
    }
    def initialized(fs: FileSystem, conf: Configuration): FileSystem = {
      fs.initialize(URI.create("file:///"), conf); fs
    }

    // the session's own manager, at the session's umask
    val sessionConf = spark.sessionState.newHadoopConf()
    val root = newRoot()
    val fm = manager(root)
    dirs.foreach(d => fm.mkdirs(new Path(root.toString, d)))
    files.foreach(f => write(fm, new Path(root.toString, f), "x", overwrite = false))
    val stock = viaFs(initialized(new LocalFileSystem(), sessionConf))
    assert(modes(root) === stock)
    assert(stock("sg/c") === 0x5ed, "the set-gid inheritance case must be exercised")

    // the FileSystem alone, under other umasks
    for (umask <- Seq("002", "027", "077")) {
      val conf = new Configuration(sessionConf)
      conf.set("fs.permissions.umask-mode", umask)
      assert(viaFs(initialized(new GraftLocalFileSystem(), conf)) ===
        viaFs(initialized(new LocalFileSystem(), conf)), s"umask $umask")
    }
  }

  test("paths off the session's local FileSystem get Spark's default checkpoint manager") {
    /** (path, extra conf, Spark's default for it) */
    val cases = Seq(
      ("mock:///ckpt", Map("fs.mock.impl" -> classOf[MockFs].getName),
        classOf[FileSystemBasedCheckpointFileManager]),
      ("mock:///ckpt", Map("fs.mock.impl" -> classOf[MockFs].getName,
        "fs.AbstractFileSystem.mock.impl" -> classOf[MockAbstractFs].getName),
        classOf[FileContextBasedCheckpointFileManager]),
      // `file:` on another local FileSystem class: its rename need not
      // replace (hive-exec's ProxyLocalFileSystem does not)
      (Files.createTempDirectory("ckpt_other_fs").toUri.toString,
        Map("fs.file.impl" -> classOf[LocalFileSystem].getName),
        classOf[FileContextBasedCheckpointFileManager]))
    for ((path, extra, expected) <- cases) {
      val p = new Path(path)
      val conf = spark.sessionState.newHadoopConf()
      conf.setBoolean(s"fs.${p.toUri.getScheme}.impl.disable.cache", true)
      extra.foreach { case (k, v) => conf.set(k, v) }
      val chosen = CheckpointFileManager.create(p, conf) match {
        case fm: GraftCheckpointFileManager => fm.delegate.getClass
        case other => fail(s"checkpoint manager is ${other.getClass.getName}")
      }
      conf.unset("spark.sql.streaming.checkpointFileManagerClass")
      val sparkDefault = CheckpointFileManager.create(p, conf).getClass
      assert(chosen === sparkDefault, s"$path with $extra")
      assert(chosen === expected, s"$path with $extra")
    }
  }
}

object CheckpointFileContractSpec {
  /** Local disk under a `mock:` scheme. The routing test only
    * constructs managers on it; no file is read or written.
    */
  class MockFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("mock:///")
  }

  /** `mock:` for FileContext, so Spark's default is the FileContext manager. */
  class MockAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new MockFs, conf, "mock", false)
}
