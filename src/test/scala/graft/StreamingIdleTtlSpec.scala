package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingTa
import graft.ta.IndicatorSpec

/** Round-12 verdict item #1: the TA streams' per-series state is bounded
  * under key churn by a conf-pinnable idle TTL
  * (`spark.graft.stream.idleTtl`, default 0 = off = the round-11
  * NoTimeout semantics exactly). The contract under eviction:
  *  (a) an idle series' WHOLE state entry leaves the store after the TTL
  *      (observable in the state-operator metrics),
  *  (b) a series resuming after eviction is a FRESH series — its in-order
  *      watermark is gone too, so replayed ticks fold (not drop) and the
  *      re-warmed values equal a brand-new series over the same prefix,
  *  (c) with the TTL off nothing changes: the same replay drops under the
  *      in-order contract and state rows stay put.
  * The conf is read per entry point at build time; the spec runs on an
  * isolated `newSession()` so the conf cannot leak into parallel suites. */
class StreamingIdleTtlSpec extends AnyFunSuite {
  private lazy val base = TestSpark.spark

  private def ticksFor(sid: String, r: Range): Seq[StreamingTa.BarTick] =
    r.map(i => StreamingTa.BarTick(sid, i.toLong, i + 0.5, i + 1.0, i.toDouble, i + 0.7, 100.0))

  private def sks = Seq(
    StreamingTa.streamKernel(IndicatorSpec("ema", Map("length" -> 5))).get,
    StreamingTa.streamKernel(IndicatorSpec("atr", Map("length" -> 5))).get)

  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Option[Long] =
    q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq).lastOption.map(_.numRowsTotal)

  /** Poll until the latest state-operator progress reports `n` rows (the
    * timeout fires in whatever no-data batch the engine runs next, so the
    * exact batch is not deterministic — the end state is). Polling, not
    * processAllAvailable: with ProcessingTimeTimeout the engine always
    * constructs another batch (that is HOW timeouts fire with no data), so
    * noNewData is never signaled and processAllAvailable blocks forever —
    * the same gotcha topkIvfStream's dedupTtl documents. */
  private def awaitStateRows(q: org.apache.spark.sql.streaming.StreamingQuery, n: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!stateRows(q).contains(n) && System.nanoTime() < deadline) Thread.sleep(100)
    assert(stateRows(q).contains(n), s"state rows never reached $n (last: ${stateRows(q)})")
  }

  private def awaitCount(
      spark: org.apache.spark.sql.SparkSession, table: String, n: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def c() = spark.table(table).count()
    while (c() != n && System.nanoTime() < deadline) Thread.sleep(100)
    assert(c() == n, s"$table never reached $n rows (at ${c()})")
  }

  test("idle series evicts after the TTL and re-warms as a fresh series on resume") {
    val spark = base.newSession()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.graft.stream.idleTtl", "2s")
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingTa.BarTick]
    val acc = spark.sparkContext.longAccumulator("idle_ttl_late")
    val q = StreamingTa
      .kernelBatchStream(ms.toDS(), sks, latePolicy = "drop", lateCounter = Some(acc))
      .writeStream.format("memory").queryName("idle_ttl_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .outputMode("append").start()
    try {
      ms.addData(ticksFor("A", 0 until 20) ++ ticksFor("B", 0 until 20))
      awaitCount(spark, "idle_ttl_stream", 40L)
      awaitStateRows(q, 2L)

      // let A and B go idle past the TTL; the engine's no-data batches
      // fire the timeouts — BOTH evict (B gets fresh data right after,
      // which proves eviction is per-series idleness, not query age)
      Thread.sleep(3000)
      awaitStateRows(q, 0L)
      ms.addData(ticksFor("B", 20 until 25))
      awaitCount(spark, "idle_ttl_stream", 45L)
      awaitStateRows(q, 1L)

      // A resumes with the SAME ticks it already sent: ts <= its evicted
      // lastTs. With state (and the in-order watermark) gone these fold
      // as a fresh series — zero late drops, and values re-warm
      // identically to the first pass.
      ms.addData(ticksFor("A", 0 until 20))
      awaitCount(spark, "idle_ttl_stream", 65L)
      assert(acc.value == 0L, s"resumed ticks must fold as fresh, got ${acc.value} late drops")

      val rows = spark.table("idle_ttl_stream").collect()
      val aRuns = rows.filter(_.getString(0) == "A").groupBy(_.getAs[Long]("ts"))
      assert(aRuns.forall(_._2.length == 2), "every A tick must emit once per pass")
      aRuns.foreach { case (ts, rs) =>
        Seq("ema_5", "atr_5").foreach { c =>
          assert(rs(0).getAs[Any](c) == rs(1).getAs[Any](c),
            s"A@$ts $c: re-warm after eviction must equal the original fresh warm-up")
        }
      }
      // B sent 25 distinct ticks; its post-eviction ticks (20..24) are new
      // ts values, so eviction is invisible for a series that only moves
      // forward — every tick emits exactly once
      assert(rows.count(_.getString(0) == "B") == 25)
    } finally {
      try q.stop() catch { case _: Throwable => () }
      spark.conf.unset("spark.graft.stream.idleTtl")
    }
  }

  test("TTL off (default): state persists and the same replay drops under the in-order contract") {
    val spark = base.newSession()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingTa.BarTick]
    val acc = spark.sparkContext.longAccumulator("idle_off_late")
    val q = StreamingTa
      .kernelBatchStream(ms.toDS(), sks, latePolicy = "drop", lateCounter = Some(acc))
      .writeStream.format("memory").queryName("idle_off_stream").outputMode("append").start()
    try {
      ms.addData(ticksFor("A", 0 until 10))
      q.processAllAvailable()
      Thread.sleep(1200) // longer than the other test's TTL — no conf, no eviction
      ms.addData(ticksFor("A", 0 until 10))
      q.processAllAvailable()
      assert(acc.value == 10L, s"with no TTL the replay must drop, got ${acc.value}")
      assert(spark.table("idle_off_stream").count() == 10L)
      assert(stateRows(q).contains(1L))
    } finally q.stop()
  }

  test("idleTtl conf parsing: durations, off, and negatives") {
    val spark = base.newSession()
    spark.conf.set("spark.graft.stream.idleTtl", "30m")
    assert(StreamingTa.idleTtlMs(spark) == 30L * 60 * 1000)
    spark.conf.set("spark.graft.stream.idleTtl", "1500")
    assert(StreamingTa.idleTtlMs(spark) == 1500L)
    spark.conf.unset("spark.graft.stream.idleTtl")
    assert(StreamingTa.idleTtlMs(spark) == 0L)
    spark.conf.set("spark.graft.stream.idleTtl", "-1s")
    intercept[IllegalArgumentException](StreamingTa.idleTtlMs(spark))
  }
}
