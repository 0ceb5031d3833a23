package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Chaos, TextAnalytics}

/** The reference's implicit core guarantee — output invariant under
  * worker crashes (client.go:309-313 crash injection recovered by
  * tracker.go:153-214 re-execution) — proven for the Spark engine:
  * every task of a stage fails its first attempt and the results must
  * be byte-identical to the clean run. Runs under
  * spark.task.maxFailures=4 (session master local[4,4]) and
  * spark.speculation=true (set at context startup in
  * SparkTestSession).
  *
  * Honesty note on speculation: with a single-host local backend,
  * Spark never LAUNCHES speculative copies (placement excludes the
  * host of the running attempt), so what these tests prove under
  * speculation-enabled scheduling is correctness, not the re-issue
  * itself; the stalled-straggler test drives the exact task shape
  * speculation targets on a cluster.
  */
class ChaosSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def corpus = ReferenceData.corpus
  val sf = "/root/testdata/sf0.001"

  /** Runs `body` while counting failed task attempts; returns
    * (result, nFailedTasks).
    */
  private def countingFailures[T](body: => T): (T, Int) = {
    val failures = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (!t.taskInfo.successful) failures.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(sc)
      (r, failures.get())
    } finally sc.removeSparkListener(listener)
  }

  test("the composed modern cleanse survives first-attempt failures byte-identically") {
    val docs = graft.sources.Tables.documents(spark, sf).repartition(8)
    val clean = graft.operators.TextPipeline.pipeModernOf(docs).collect()
    val (chaos, failed) = countingFailures {
      graft.operators.TextPipeline.pipeModernOf(Chaos.failFirstAttempt(docs))
        .collect()
    }
    assert(failed >= 8, s"chaos must actually fail the map tasks, saw $failed")
    assert(chaos.length == clean.length && clean.nonEmpty)
    assert(chaos.sameElements(clean),
      "retried pipe_modern run diverged from the clean run")
  }

  test("the funnel's chained step joins survive first-attempt failures") {
    val ev = graft.sources.Tables.events(spark, sf).repartition(8)
    val clean = graft.operators.Relational.q32FunnelOf(ev).collect()
    val (chaos, failed) = countingFailures {
      graft.operators.Relational.q32FunnelOf(Chaos.failFirstAttempt(ev))
        .collect()
    }
    assert(failed >= 8, s"chaos must actually fail the map tasks, saw $failed")
    assert(chaos.length == clean.length && clean.nonEmpty)
    assert(chaos.sameElements(clean),
      "retried funnel run diverged from the clean run")
  }

  test("map-side task failures leave word count byte-identical") {
    val docs = TextAnalytics.documents(spark, corpus).repartition(8)
    val clean = TextAnalytics.toOutputLines(
      TextAnalytics.wordCount(docs)).collect()
    val (chaos, failed) = countingFailures {
      TextAnalytics.toOutputLines(
        TextAnalytics.wordCount(Chaos.failFirstAttempt(docs))).collect()
    }
    assert(failed >= 8, s"chaos must actually fail the 8 map tasks, saw $failed")
    assert(chaos.length == clean.length)
    assert(chaos.sameElements(clean), "retried run diverged from clean run")
  }

  test("reduce-side task failures leave a shuffle query identical") {
    val q1 = SparkEntry.queries("q1_pricing_summary")
    val clean = q1(spark, sf).collect()
    val (chaos, failed) = countingFailures {
      Chaos.failFirstAttempt(q1(spark, sf)).collect()
    }
    assert(failed > 0, "chaos must fail at least one post-shuffle task")
    assert(chaos.toSeq == clean.toSeq,
      "post-shuffle retry + shuffle refetch diverged from clean run")
  }

  test("iterative fixed-point pagerank survives task retries bit for bit") {
    // the claim under test is the BIGINT fixed-point discipline: an
    // iterative float PageRank could legitimately differ after a
    // retry re-orders partial sums; the integer ranks may not
    val li = graft.sources.Tables.lineitem(spark, sf).repartition(8)
    val clean = graft.operators.Graph.pagerankOf(li, 3, 100).collect()
    val (chaos, failed) = countingFailures {
      graft.operators.Graph.pagerankOf(Chaos.failFirstAttempt(li), 3, 100)
        .collect()
    }
    assert(failed >= 8, s"chaos must actually fail the map tasks, saw $failed")
    assert(chaos.length == clean.length && clean.nonEmpty)
    assert(chaos.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      clean.map(r => (r.getString(0), r.getLong(1))).toSeq,
      "retried pagerank run diverged from the clean run")
  }

  test("stalled first attempts (speculation's target shape) stay correct") {
    assert(spark.conf.get("spark.speculation") == "true")
    val docs = TextAnalytics.documents(spark, corpus).repartition(8)
    val clean = TextAnalytics.wordCount(docs)
      .orderBy("word").collect()
    val stalled = TextAnalytics.wordCount(
      Chaos.stallFirstAttempt(docs, 1000L)).orderBy("word").collect()
    assert(stalled.toSeq == clean.toSeq)
  }
}
