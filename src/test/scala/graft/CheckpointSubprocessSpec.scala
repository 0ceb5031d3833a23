package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLocalFileSystem
import graft.streaming.{GraftCheckpointFileManager, ReplicatedLog, StreamingIngest}
import graft.streaming.ReplicatedLog.LogRecord

/** Local streaming checkpoints start no subprocesses. Without the
  * native libhadoop, Hadoop's FileContext rename forks `readlink` and
  * the stock local FileSystem forks `chmod` for every file and
  * directory it creates — about 85 process starts per micro-batch of
  * the composed ingest. The session routes `file:` checkpoints
  * through the FileSystem API and sets permissions in-process; this
  * spec counts the JVM's process starts (JFR `jdk.ProcessStart`)
  * while checkpointed queries run.
  */
class CheckpointSubprocessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The command lines of every process the JVM started in `body`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withoutStackTrace()
      rec.start()
      try body finally rec.stop()
      val file = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }

  test("the session's file: FileSystem and local checkpoint manager are the graft ones") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(Files.createTempDirectory("ckpt_fm").toString)
    assert(dir.getFileSystem(conf).getClass === classOf[GraftLocalFileSystem])
    CheckpointFileManager.create(dir, conf) match {
      case fm: GraftCheckpointFileManager =>
        assert(fm.delegate.getClass === classOf[FileSystemBasedCheckpointFileManager])
      case other => fail(s"checkpoint manager is ${other.getClass.getName}")
    }
  }

  test("checkpointed ingest and replicated log start no readlink or chmod") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ckpt_subproc").toString
    val Batches = 3
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    def ts(sec: Long) = new Timestamp(sec * 1000L)

    val starts = processStarts {
      val docs = MemoryStream[(Long, String, Timestamp)]
      val ingest = StreamingIngest.ingest(docs.toDF().toDF("doc_id", "text", "ts"))
        .writeStream.format("memory").queryName("ckpt_subproc_ingest")
        .option("checkpointLocation", s"$dir/ingest")
        .outputMode("append").start()
      try (0 until Batches).foreach { b =>
        docs.addData((0 until 4).map { i =>
          val id = 10L * b + i
          (id, words.indices.map(w => words((w + b + i) % words.size)).mkString(" "),
           ts(100L + b))
        })
        ingest.processAllAvailable()
      } finally ingest.stop()
      assert(ingest.lastProgress.batchId >= Batches - 1)

      val log = MemoryStream[LogRecord]
      val repl = ReplicatedLog.start(log.toDF(), s"$dir/repl_ckpt", s"$dir/repl_out",
        trigger = Trigger.ProcessingTime(0))
      try (0 until Batches).foreach { b =>
        log.addData(LogRecord(b + 1L, s"line $b", ts(100L + b)))
        repl.processAllAvailable()
      } finally repl.stop()
      assert(repl.lastProgress.batchId >= Batches - 1)
    }

    // the queries did write checkpoints, with .crc sidecars
    val commits = new java.io.File(s"$dir/ingest/commits").list().toSeq
    assert(commits.count(_.forall(_.isDigit)) >= Batches, commits)
    assert(commits.exists(_.endsWith(".crc")), commits)
    assert(spark.read.parquet(s"$dir/repl_out").count() === Batches)

    val forked = starts.filter(c =>
      Set("readlink", "chmod")(c.trim.split("\\s+").head.split('/').last))
    assert(forked.isEmpty,
      s"${forked.size} of ${starts.size} process starts were readlink/chmod: ${forked.take(3)}")
  }
}
