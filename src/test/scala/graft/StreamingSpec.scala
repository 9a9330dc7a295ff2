package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def ts(m: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")

  test("watermarked tumbling window aggregates a replayed batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(65), 2, "view", 3.0))
    val q = StreamOps.tumblingCounts(in.toDF(), "1 hour", "2 hours")
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling").start()
    q.processAllAvailable()
    val rows = spark.table("tumbling")
      .select(col("window.start").cast("string"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(rows == Set(
      ("2024-01-01 00:00:00", "click", 2L),
      ("2024-01-01 01:00:00", "view", 1L)))
  }

  test("sliding windows land each event in every covering window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(20), 1, "click", 1.0), // windows starting 23:30..00:15
      Event(2, ts(50), 1, "click", 2.0)) // windows starting 00:00..00:45
    val q = StreamOps.slidingCounts(in.toDF(), "1 hour", "15 minutes",
      "2 hours")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding").start()
    q.processAllAvailable()
    val rows = spark.table("sliding")
      .select(col("window.start").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    q.stop()
    // 4 windows each; the 00:00 and 00:15 windows cover both events
    assert(rows.size == 6, rows.toString)
    assert(rows("2024-01-01 00:00:00") == 2L)
    assert(rows("2024-01-01 00:15:00") == 2L)
    assert(rows("2023-12-31 23:30:00") == 1L)
    assert(rows("2024-01-01 00:45:00") == 1L)
  }

  test("stateful sessionizer closes sessions across the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDS(), gapSeconds = 1800,
      idleTimeout = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    // user 1: two events 10 min apart (one session), then one 40 min
    // later -> first session closes when the late event arrives
    in.addData(Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0))
    q.processAllAvailable()
    in.addData(Event(3, ts(55), 1, "click", 4.0))
    q.processAllAvailable()
    val closed = spark.table("sessions").as[StreamOps.SessionUpdate]
      .collect()
    q.stop()
    assert(closed.length == 1)
    assert(closed.head.n_events == 2 && closed.head.total_value == 3.0)
    assert(closed.head.session_start_us == ts(0).getTime * 1000)
  }

  test("streaming dedup drops repeated content within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.StreamOps.dedupStream(docs)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    in.addData((1L, ts(0), "hello  world"), (2L, ts(1), "hello world"),
      (3L, ts(2), "fresh text"))
    q.processAllAvailable()
    in.addData((4L, ts(3), "HELLO world"), (5L, ts(4), "newer text"))
    q.processAllAvailable()
    val kept = spark.table("dedup_stream").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    // 2 normalizes to 1's text; 4 differs only by case -> dropped
    assert(kept == Set(1L, 3L, 5L))
  }

  test("stream-stream interval join attributes clicks to impressions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp, Long)] // (imp_id, ts, user)
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val joined = StreamOps.intervalJoin(
      imps.toDF().toDF("imp_id", "ts", "user_id"),
      clicks.toDF().toDF("click_id", "ts", "user_id"),
      key = "user_id", withinSeconds = 600)
    val q = joined.select(col("l_imp_id"), col("r_click_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("attributed").start()
    imps.addData((100L, ts(0), 1L), (101L, ts(0), 2L))
    clicks.addData(
      (200L, ts(5), 1L), // 5 min after user 1's impression -> match
      (201L, ts(30), 2L), // 30 min after -> outside the 10-min window
      (202L, ts(3), 3L)) // no impression for user 3
    q.processAllAvailable()
    val rows = spark.table("attributed").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(rows == Set((100L, 200L)))
  }

  test("sessionizer state survives checkpoint restart; file-sink output " +
    "is exactly-once and equals the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_sessions_out").toString
    val in = MemoryStream[Event]

    def startQuery() = StreamOps.sessionize(in.toDS(), gapSeconds = 1800,
      idleTimeout = false)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir).start()

    // phase 1 — two committed micro-batches, then a hard stop: users 1
    // and 2 both end the phase with an OPEN session held only in the
    // state store
    val q1 = startQuery()
    in.addData(Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 1, "click", 2.0))
    q1.processAllAvailable()
    in.addData(Event(5, ts(0), 2, "view", 5.0))
    q1.processAllAvailable()
    q1.stop()

    // phase 2 — RESTART from the checkpoint. Closing [e1,e2] and
    // user 2's singleton requires the pre-stop state to have been
    // recovered; a state loss would silently swallow both sessions.
    in.addData(Event(3, ts(55), 1, "click", 4.0),
      Event(4, ts(60), 1, "click", 8.0),
      Event(6, ts(120), 1, "click", 16.0),
      Event(7, ts(130), 2, "view", 32.0))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(outDir)
      .as[StreamOps.SessionUpdate].collect()
      .map(s => (s.user_id, s.session_start_us, s.session_end_us,
        s.n_events, s.total_value))
    // exactly-once: replay across the restart must not duplicate rows
    assert(streamed.length == streamed.distinct.length,
      s"duplicated sink rows: ${streamed.mkString(", ")}")

    // batch twin (the e_sessionize lag/cumsum shape) over ALL events;
    // the stream can only have closed what a later event ended, so the
    // twin drops each user's final (still-open) session
    import org.apache.spark.sql.expressions.Window
    val all = Seq(
      (1L, ts(0), 1L, 1.0), (2L, ts(10), 1L, 2.0), (5L, ts(0), 2L, 5.0),
      (3L, ts(55), 1L, 4.0), (4L, ts(60), 1L, 8.0),
      (6L, ts(120), 1L, 16.0), (7L, ts(130), 2L, 32.0))
      .toDF("event_id", "ts", "user_id", "value")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = all
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session", when(col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
          1800L * 1000000, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(unix_micros(min(col("ts"))).as("start_us"),
        unix_micros(max(col("ts"))).as("end_us"),
        count(lit(1)).as("n"), sum(col("value")).as("total"))
    val lastSession = sessions.groupBy(col("user_id"))
      .agg(max(col("session_id")).as("session_id"))
    val closedTwin = sessions.join(lastSession,
      Seq("user_id", "session_id"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(streamed.toSet == closedTwin.toSet,
      s"stream=${streamed.toSet} twin=${closedTwin.toSet}")
    // and the closed set is exactly the three sessions the gap implies
    assert(streamed.length == 3)
  }

  test("streaming anomaly z-scores are bit-identical to the batch twin " +
    "over the real events table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id))
    // replay in three ordered chunks so ring state crosses micro-batches
    val in = MemoryStream[Event]
    val q = StreamOps.anomalies(in.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("anomalies").start()
    all.grouped((all.length + 2) / 3).foreach { chunk =>
      in.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    val streamed = spark.table("anomalies")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    q.stop()

    // batch twin: the e_anomaly window pipeline over the same table
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-10, -1)
    val dv = col("value").cast(DecimalType(18, 2))
    val batch = Tables.load(spark, sf, "events")
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("mu", sum(dv).over(w).cast(DoubleType) / col("n"))
      .withColumn("m2", sum(dv * dv).over(w).cast(DoubleType) / col("n"))
      .filter(col("n") >= 10)
      .withColumn("sigma",
        sqrt(greatest(col("m2") - col("mu") * col("mu"), lit(0.0))))
      .filter(col("sigma") > 0)
      .withColumn("z", (col("value") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_id"), col("user_id"), col("value"), col("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(batch.nonEmpty, "batch twin produced no alerts at sf0.001")
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} " +
        s"batch-only=${(batch -- streamed).take(3)}")
  }

  test("streaming transition counts equal the batch lag-window pairing " +
    "over the real events table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id))
    val in = MemoryStream[Event]
    val q = StreamOps.transitions(in.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("transitions").start()
    // three ordered chunks: the last-event state must carry the pair
    // that straddles each micro-batch boundary
    all.grouped((all.length + 2) / 3).foreach { chunk =>
      in.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    val streamed = spark.table("transitions")
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    q.stop()

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val batch = Tables.load(spark, sf, "events")
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream-only=${(streamed.toSet -- batch.toSet).take(3)} " +
        s"batch-only=${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("stream-static enrich joins the broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("cust_id", "tier")
    val in = MemoryStream[Event]
    val q = graft.streaming.StreamOps.enrich(in.toDF(), dim,
      "user_id", "cust_id")
      .select("event_id", "tier")
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    in.addData(Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 9, "view", 2.0))
    q.processAllAvailable()
    val rows = spark.table("enriched").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    q.stop()
    assert(rows == Map(1L -> Some("gold"), 2L -> None))
  }

  test("interval-join replay over driver events equals the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real driver events (sf0.001), replayed through the streaming
    // interval join in three chunks; the batch twin is the literal
    // one-sided range predicate on the same rows. Same-key pairs
    // within the closed interval [ts_a, ts_a + 60s], self-pairs
    // excluded by id.
    // replay in ts order (event_id tie-break): watermark eviction in the
    // stream-stream join may drop rows that arrive >1h older than the
    // chunk before them, so equality with the batch twin must not
    // depend on the generator's event_id/ts correlation
    val evs = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("ts"), col("user_id"))
      .orderBy(col("ts"), col("event_id")).limit(900)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val batch = {
      val a = evs.toSeq.toDF("id_a", "ts_a", "user_id")
      val b = evs.toSeq.toDF("id_b", "ts_b", "user_b")
      a.join(b, col("user_id") === col("user_b") &&
          col("ts_b") >= col("ts_a") &&
          col("ts_b") <= col("ts_a") + expr("INTERVAL 60 SECONDS") &&
          col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val l = MemoryStream[(Long, Timestamp, Long)]
    val r = MemoryStream[(Long, Timestamp, Long)]
    val joined = StreamOps.intervalJoin(
      l.toDF().toDF("id", "ts", "user_id"),
      r.toDF().toDF("id", "ts", "user_id"),
      key = "user_id", withinSeconds = 60)
      .filter(col("l_id") =!= col("r_id"))
      .select(col("l_id"), col("r_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij_replay").start()
    evs.grouped(300).foreach { chunk =>
      l.addData(chunk); r.addData(chunk); q.processAllAvailable()
    }
    val streamed = spark.table("ij_replay").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    q.stop()
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"missing=${(batch -- streamed).take(5)} " +
        s"extra=${(streamed -- batch).take(5)}")
    assert(batch.nonEmpty) // the comparison actually exercised pairs
  }

  test("foreachBatch into the Iceberg table is exactly-once across a " +
    "checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ice_ckpt").toString
    val table = java.nio.file.Files
      .createTempDirectory("graft_ice_tbl").toString
    val in = MemoryStream[(Long, String)]
    def startQuery() = in.toDF().toDF("id", "name")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.materialize.IcebergWriter
          .appendStreamBatch(spark, table, batch, id): Unit
      }.start()

    val q1 = startQuery()
    in.addData((1L, "a"), (2L, "b")); q1.processAllAvailable()
    in.addData((3L, "c")); q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint: Structured Streaming re-offers the
    // last batch to foreachBatch (at-least-once); the committed-id
    // property must turn the replay into a no-op
    val q2 = startQuery()
    in.addData((4L, "d")); q2.processAllAvailable()
    q2.stop()
    val rows = graft.materialize.IcebergTable.read(spark, table)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L, 3L, 4L),
      s"duplicate or missing rows after restart: $rows")
  }
}
