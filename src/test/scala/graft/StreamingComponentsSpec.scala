package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.sources.Tables
import graft.streaming.StreamingComponents

/** The streaming component-label maintainer must equal the batch
  * `dedup_components` full recompute after every micro-batch — with
  * components whose members arrive in DIFFERENT batches merging
  * across them — while its persisted state stays rep-level and
  * text-free, and a replayed batch is idempotent.
  */
class StreamingComponentsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String): String = tempDir(s"graft_scomp_$tag")

  private def labelSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select("doc_id", "component_id").as[(Long, Long)].collect().toSet
  }

  test("streamed labels equal the batch full recompute after every batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = Tables.documents(s, sf)
    val geom = Dedup.bandGeometryOf(docs)
    val root = tmp("corpus")
    StreamingComponents.init(s, docs.limit(0), root, geom)

    val rows = docs.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val batches = rows.grouped((rows.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)]
    val q = StreamingComponents.run(in.toDS(), root, tmp("ckpt"))
    try {
      var fed = Vector.empty[(Long, String)]
      for (b <- batches) {
        in.addData(b: _*)
        q.processAllAvailable()
        fed ++= b
        // after each batch: streamed state == batch recompute over
        // everything ingested so far, at the SAME frozen geometry
        val expected = labelSet(Dedup.componentsCollapsedOf(
          fed.toDF("doc_id", "text"), geom))
        val got = labelSet(StreamingComponents.labels(s, root))
        assert(got == expected,
          s"after ${fed.length} docs: ${got.size} streamed vs ${expected.size} batch labels")
        assert(expected.nonEmpty, "corpus must actually contain near-dups")
      }
      assert(StreamingComponents.currentVersion(root) == batches.length.toLong)
    } finally q.stop()
  }

  // base 30 distinct words; near-dup chain A ~ A' ~ A'' across batches
  private val baseWords = (0 until 30).map(i => ('a' + i % 26).toChar.toString * (i / 26 + 2))
  private val tA = baseWords.mkString(" ")
  private val tB = (baseWords :+ "omega").mkString(" ")
  private val tC = (baseWords ++ Seq("omega", "zulu")).mkString(" ")

  test("a component whose members arrive in three different batches merges") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val all = Seq((10L, tA), (20L, tB), (30L, tC), (40L, "unrelated words entirely"))
    val geom = Dedup.bandGeometryOf(all.toDF("doc_id", "text"))
    val root = tmp("chain")
    StreamingComponents.init(s, all.toDF("doc_id", "text").limit(0), root, geom)
    val in = MemoryStream[(Long, String)]
    val q = StreamingComponents.run(in.toDS(), root, tmp("ckpt2"))
    try {
      in.addData((10L, tA)); q.processAllAvailable()
      assert(labelSet(StreamingComponents.labels(s, root)).isEmpty,
        "one doc alone pairs with nothing")
      in.addData((20L, tB), (40L, all(3)._2)); q.processAllAvailable()
      val mid = labelSet(StreamingComponents.labels(s, root))
      assert(mid == Set((10L, 10L), (20L, 10L)),
        s"cross-batch near-dup pair must merge: $mid")
      in.addData((30L, tC)); q.processAllAvailable()
      val fin = labelSet(StreamingComponents.labels(s, root))
      assert(fin == Set((10L, 10L), (20L, 10L), (30L, 10L)),
        s"third batch must join the existing component: $fin")
      // and the streamed result equals the batch recompute
      assert(fin == labelSet(Dedup.componentsCollapsedOf(
        all.toDF("doc_id", "text"), geom)))
    } finally q.stop()
  }

  test("state is text-free and rep-level: clones collapse before signing") {
    val s = spark
    import s.implicits._
    val root = tmp("clones")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val geom = Dedup.bandGeometryOf(empty)
    StreamingComponents.init(s, empty, root, geom)
    // one batch: 50 byte-identical clones + 1 unrelated doc
    val batch = (1L to 50L).map(i => (i, tA)) :+ (99L, "something else here")
    StreamingComponents.applyBatch(batch.toDF("doc_id", "text"), root, 0L)
    val p = s"$root/v1"
    for (art <- Seq("labels", "bands", "grams")) {
      val schema = s.read.parquet(s"$p/$art").schema
      assert(!schema.fieldNames.contains("text"),
        s"$art state must never retain document text")
    }
    // bands/grams are REP-level: 2 distinct texts → exactly 2 docs'
    // worth of rows, not 51
    val bandDocs = s.read.parquet(s"$p/bands")
      .select("doc_id").distinct().count()
    val gramDocs = s.read.parquet(s"$p/grams")
      .select("doc_id").distinct().count()
    assert(bandDocs == 2L && gramDocs == 2L,
      s"state must be rep-level: $bandDocs band docs, $gramDocs gram docs")
    // while the label surface covers every clone member
    val labels = labelSet(s.read.parquet(s"$p/labels"))
    assert(labels == (1L to 50L).map(i => (i, 1L)).toSet,
      "all 50 clones form one component labeled by the min id")
  }

  test("delta chain compacts, old versions GC, incomplete versions stay invisible") {
    val s = spark
    import s.implicits._
    val root = tmp("gc")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val geom = Dedup.bandGeometryOf(empty)
    StreamingComponents.init(s, empty, root, geom)
    // 17 one-doc batches: near-dup chain docs so labels stay non-trivial
    val docs = (0 until 17).map { i =>
      val words = baseWords ++ (0 until i).map(j => s"extra${('a' + j).toChar}")
      (100L + i, words.mkString(" "))
    }
    docs.zipWithIndex.foreach { case ((id, t), b) =>
      StreamingComponents.applyBatch(Seq((id, t)).toDF("doc_id", "text"),
        root, b.toLong)
    }
    assert(StreamingComponents.currentVersion(root) == 17L)
    // batch 15 wrote v16 = a compaction point (16 % 16 == 0); batch 16
    // then GC'd everything below its base → only v16 (full) + v17
    // (delta) remain on disk
    val left = Option(new java.io.File(root).listFiles()).getOrElse(Array())
      .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    assert(left == Seq("v16", "v17"), s"expected compacted chain, got $left")
    // labels after compaction+GC still equal the batch recompute
    val expected = labelSet(Dedup.componentsCollapsedOf(
      docs.toDF("doc_id", "text"), geom))
    assert(labelSet(StreamingComponents.labels(s, root)) == expected)
    // a partially-written version (no _COMPLETE marker) is invisible
    val partial = new java.io.File(s"$root/v18/labels")
    partial.mkdirs()
    java.nio.file.Files.write(new java.io.File(partial, "part-junk").toPath,
      "not parquet".getBytes)
    assert(StreamingComponents.currentVersion(root) == 17L,
      "a version without its marker must not become current")
    assert(labelSet(StreamingComponents.labels(s, root)) == expected)
  }

  test("a replayed micro-batch is idempotent (versioned state overwrite)") {
    val s = spark
    import s.implicits._
    val root = tmp("replay")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    StreamingComponents.init(s, empty, root, Dedup.bandGeometryOf(empty))
    val b0 = Seq((10L, tA), (20L, tB)).toDF("doc_id", "text")
    StreamingComponents.applyBatch(b0, root, 0L)
    val first = labelSet(StreamingComponents.labels(s, root))
    // the failure-replay path: the SAME batch id arrives again
    StreamingComponents.applyBatch(b0, root, 0L)
    assert(StreamingComponents.currentVersion(root) == 1L)
    assert(labelSet(StreamingComponents.labels(s, root)) == first,
      "replaying batch 0 must rewrite v1 identically, not double-merge")
  }
}
