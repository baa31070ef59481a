package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class StreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming windowed agg over events matches the batch result") {
    // stage the events parquet into a stream-source directory
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream").toFile
    val batch = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    batch.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val q = StreamOps.streamFromDir(spark, srcDir.getAbsolutePath)
      .writeStream
      .format("memory")
      .queryName("events_windowed")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("events_windowed")
      .orderBy("window_start_ms", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val expected = StreamOps.windowedAgg(batch, withWatermark = false)
      .orderBy("window_start_ms", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))

    assert(streamed.length == expected.length && streamed.length > 0)
    streamed.zip(expected).foreach { case (s, e) =>
      assert(s._1 == e._1 && s._2 == e._2 && s._3 == e._3)
      assert(math.abs(s._4 - e._4) < 1e-6)
    }
  }

  test("streaming exact dedup (flatMapGroupsWithState) emits one keeper per distinct text") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.getAbsolutePath)

    val q = StreamOps.streamingExactDedup(src)
      .toDF("text_hash", "doc_id")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("dedup_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchKeepers = graft.text.TextOps.exactDedup(docs).collect()
      .map(r => r.getAs[String]("text_hash") -> r.getAs[Long]("doc_id")).toMap
    // one emission per distinct content, no duplicates, same key set
    assert(streamed.keySet == batchKeepers.keySet)
    assert(spark.table("dedup_stream").count() == batchKeepers.size)
    // keepers agree (stream arrives in one file => same min-id choice)
    assert(streamed == batchKeepers)
  }

  test("simhash signatures are stream-transparent (row-local kernel, no state)") {
    // simhash is mapPartitions with no aggregation state, so the SAME
    // operator body runs unmodified on a readStream source — the
    // shuffle-free shape that makes it the right 100 TB streaming op
    val srcDir = java.nio.file.Files.createTempDirectory("graft-simhash-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(srcDir.getAbsolutePath)

    val q = graft.text.TextOps.simhash(src)
      .writeStream.format("memory").queryName("simhash_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("simhash_stream").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchSigs = graft.text.TextOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batchSigs && streamed.nonEmpty)
  }

  test("sessionize agrees with Spark's built-in session_window on real events") {
    // independent implementation cross-check: the lag/running-sum plan
    // vs Catalyst's native session-window merge, same 4h gap
    val ev = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val ours = graft.events.EventOps.sessionize(ev, gap = 4L * 3600 * 1000000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(2), r.getLong(4))).toSet // (user, start, n, end)
    val builtin = ev.withColumn("ts2", timestamp_micros(col("ts")))
      .groupBy(session_window(col("ts2"), "4 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("start_us"), max(col("ts")).as("end_us"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("n"), r.getAs[Long]("end_us"))).toSet
    assert(ours.nonEmpty && ours == builtin)
  }

  test("streaming sessionization matches the batch operator session for session") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sess-stream").toFile
    val raw = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    raw.write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val ev = raw
    val src = spark.readStream
      .schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingSessionize(src)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val streamed = spark.table("sess_stream").collect().map(key).toSet
    val batch = graft.events.EventOps.sessionize(ev, gap = 4L * 3600 * 1000000L)
      .select(col("user_id"), col("n_events"), col("start_ts"), col("end_ts"))
      .collect().map(key).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-stream interval join matches the batch inequality join row for row") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-join-stream").toFile
    val raw = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    raw.write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val src = spark.readStream
      .schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingIntervalJoin(src, "purchase", "click", "1 hour")
      .writeStream.format("memory").queryName("ij_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val streamed = spark.table("ij_stream").collect().map(key).toSet
    // batch mirror: plain inequality join on the same micros ticks
    val ev = raw.withColumn("tsu", col("ts"))
    val l = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("l_event_id"), col("user_id"), col("tsu").as("l_ts"))
    val r = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("r_event_id"), col("user_id").as("r_user"), col("tsu").as("r_ts"))
    val batch = l.join(r,
        col("user_id") === col("r_user") && col("r_ts") <= col("l_ts") &&
          col("r_ts") >= col("l_ts") - 3600L * 1000000L)
      .select(col("l_event_id"), col("user_id"), col("l_ts"), col("r_event_id"), col("r_ts"))
      .collect().map(key).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streaming event dedup drops redelivered ids, keeps exactly the distinct set") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-evdedup-stream").toFile
    val raw = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .limit(500)
    // simulate at-least-once delivery: every event shipped twice
    raw.unionByName(raw).write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val src = spark.readStream
      .schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingEventDedup(src)
      .select(col("event_id"))
      .writeStream.format("memory").queryName("evdedup_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("evdedup_stream").collect().map(_.getLong(0))
    val want = raw.select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(streamed.length == want.size, s"${streamed.length} rows vs ${want.size} distinct ids")
    assert(streamed.toSet == want)
  }

  test("streaming as-of join matches the batch operator probe for probe") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-asof-stream").toFile
    val raw = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .limit(600)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    raw.write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    // read the max BACK from the staged files: re-evaluating the
    // nondeterministic limit(600) plan could see a different subset
    val maxTs = spark.read.parquet(srcDir.getAbsolutePath)
      .agg(max(col("ts"))).head().getLong(0)

    val src = spark.readStream.schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingAsofLatest(src, "purchase", "click", watermark = "2 hours")
      .writeStream.format("memory").queryName("asof_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      // a probe emits only when the watermark passes it: push the
      // watermark beyond every real event with two far-future sentinel
      // events (the first raises the watermark, the second triggers the
      // batch in which the EventTimeTimeouts fire with it). The
      // sentinels must be of a SURVIVING event type: Catalyst pushes
      // the type filter below the watermark node, so a filtered-out
      // type never reaches the watermark-stats collector and the
      // watermark would stay frozen. A right-typed event on a user no
      // probe belongs to advances the clock and matches nothing.
      for (k <- 1 to 2) {
        Seq((-(k.toLong), maxTs + k * 100L * 3600L * 1000000L, -1L, "click", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(srcDir.getAbsolutePath)
        q.processAllAvailable()
      }
    } finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (
      r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) null else r.getLong(3),
      if (r.isNullAt(4)) null else r.getLong(4),
      if (r.isNullAt(5)) null else r.getDouble(5))
    val streamedRows = spark.table("asof_stream").collect().map(key)
    val streamed = streamedRows.toSet
    // the batch reference reads BACK the staged directory (minus the
    // sentinels): re-evaluating `raw.limit(600)` could pick a different
    // 600-row subset than the one written
    val staged = spark.read.parquet(srcDir.getAbsolutePath)
      .filter(col("event_id") >= 0)
    val batch = graft.events.EventOps.asofLatest(staged, "purchase", "click")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("b_event_id"), col("b_ts"), col("b_value"))
      .collect().map(key).toSet
    // exact-count check first: a re-emitted probe would collapse in the
    // set comparison, so EXACTLY-once needs the raw row count pinned
    assert(streamedRows.length == batch.size,
      s"emitted ${streamedRows.length} rows for ${batch.size} probes (duplicate or missing emission)")
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed ${streamed.size} rows vs batch ${batch.size}")
  }

  test("streaming FORWARD as-of join matches the batch operator probe for probe across arrival splits") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-asoffwd-stream").toFile
    val tol = 3600L * 1000000L // 1 hour of micro ticks, the batch face's own
    val raw = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .limit(600)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    // two arrival splits ALONG THE TIMELINE (an id-parity split would
    // land half the events below the first batch's watermark and they
    // would be dropped as late): probes near the cut exercise forward
    // horizons that only fill in the second batch
    val stage = java.nio.file.Files.createTempDirectory("graft-asoffwd-all").toFile
    raw.write.mode("overwrite").parquet(stage.getAbsolutePath)
    val all = spark.read.parquet(stage.getAbsolutePath)
    val cutTs = all.agg(percentile_approx(col("ts"), lit(0.5), lit(1000)))
      .head().getLong(0)
    all.filter(col("ts") <= cutTs)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val src = spark.readStream.schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingAsofNearestForward(
      src, "purchase", "click", toleranceUs = tol, watermark = "2 hours")
      .writeStream.format("memory").queryName("asoffwd_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      all.filter(col("ts") > cutTs)
        .write.mode("append").parquet(srcDir.getAbsolutePath)
      q.processAllAvailable()
      val maxTs = spark.read.parquet(srcDir.getAbsolutePath)
        .agg(max(col("ts"))).head().getLong(0)
      // push the watermark past every horizon end (ts + tolerance);
      // same two-sentinel protocol as the backward twin's test
      for (k <- 1 to 2) {
        Seq((-(k.toLong), maxTs + tol + k * 100L * 3600L * 1000000L, -1L, "click", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(srcDir.getAbsolutePath)
        q.processAllAvailable()
      }
    } finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (
      r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) null else r.getLong(3),
      if (r.isNullAt(4)) null else r.getLong(4),
      if (r.isNullAt(5)) null else r.getDouble(5),
      if (r.isNullAt(6)) null else r.getLong(6))
    val streamedRows = spark.table("asoffwd_stream").collect().map(key)
    val streamed = streamedRows.toSet
    val staged = spark.read.parquet(srcDir.getAbsolutePath)
      .filter(col("event_id") >= 0)
    val batch = graft.events.EventOps.asofNearest(
        staged, "purchase", "click", forward = true, toleranceUs = tol)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("b_event_id"), col("b_ts"), col("b_value"), col("lag_us"))
      .collect().map(key).toSet
    assert(streamedRows.length == batch.size,
      s"emitted ${streamedRows.length} rows for ${batch.size} probes (duplicate or missing emission)")
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed ${streamed.size} rows vs batch ${batch.size}")
  }

  test("streaming retransmission flags reproduce the batch hygiene report across arrival splits") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-retrans-stream").toFile
    val tol = 3600L * 1000000L
    val raw0 = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .limit(600)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    // inject deterministic redeliveries (same user/type/value, +10 s,
    // fresh ids): the 600-row subset carries no natural duplicates,
    // and a parity over zero retransmissions proves nothing
    val raw = raw0.unionByName(raw0.filter(col("event_id") % 12 === 0)
      .select((col("event_id") + 10000000L).as("event_id"),
        (col("ts") + 10000000L).as("ts"), col("user_id"), col("event_type"),
        col("value"), col("props")))
    // timeline split (the forward-asof test's arrival shape): the
    // cursor state is what must survive the batch boundary
    val stage = java.nio.file.Files.createTempDirectory("graft-retrans-all").toFile
    raw.write.mode("overwrite").parquet(stage.getAbsolutePath)
    val all = spark.read.parquet(stage.getAbsolutePath)
    val cutTs = all.agg(percentile_approx(col("ts"), lit(0.5), lit(1000)))
      .head().getLong(0)
    all.filter(col("ts") <= cutTs)
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val src = spark.readStream.schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingRetransFlags(src, toleranceUs = tol)
      .writeStream.format("memory").queryName("retrans_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      all.filter(col("ts") > cutTs)
        .write.mode("append").parquet(srcDir.getAbsolutePath)
      q.processAllAvailable()
      val maxTs = spark.read.parquet(srcDir.getAbsolutePath)
        .agg(max(col("ts"))).head().getLong(0)
      for (k <- 1 to 2) {
        Seq((-(k.toLong), maxTs + tol + k * 100L * 3600L * 1000000L, -1L, "click", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(srcDir.getAbsolutePath)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("retrans_stream")
      .filter(col("event_id") >= 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_retrans"), 1L).otherwise(0L)).as("n_retrans"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val staged = spark.read.parquet(srcDir.getAbsolutePath)
      .filter(col("event_id") >= 0)
    val batch = graft.events.EventOps.retransmissionStats(staged, toleranceUs = tol)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed $streamed vs batch $batch")
    assert(batch.values.map(_._2).sum > 0,
      "test corpus produced zero retransmissions — the parity proved nothing")
  }

  test("streaming as-of with leftType == rightType self-matches like the batch twin") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-asof-self").toFile
    val base = 1704000000000000L
    val evs = Seq(
      (1L, base + 1000000L, 5L, "click", 1.0, "{}"),
      (2L, base + 2000000L, 5L, "click", 2.0, "{}"),
      (3L, base + 3000000L, 5L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    evs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val src = spark.readStream.schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingAsofLatest(src, "click", "click", watermark = "1 second")
      .writeStream.format("memory").queryName("asof_self").outputMode("append").start()
    try {
      q.processAllAvailable()
      for (k <- 1 to 2) {
        Seq((-(k.toLong), base + 3000000L + k * 10000000L, -1L, "click", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(srcDir.getAbsolutePath)
        q.processAllAvailable()
      }
    } finally q.stop()
    // an event's best anchor at-or-before itself IS itself (ids unique,
    // timestamps distinct) — exactly the batch union-both-sides result
    val got = spark.table("asof_self").filter(col("event_id") >= 0).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(5))).toSet
    assert(got == Set((1L, 1L, 1.0), (2L, 2L, 2.0), (3L, 3L, 3.0)), s"$got")
  }

  test("text normalization is stream-transparent (codegen column op, no state)") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-norm-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 80)
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(srcDir.getAbsolutePath)
    val q = graft.text.TextOps.normalizeText(src)
      .writeStream.format("memory").queryName("norm_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("norm_stream").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = graft.text.TextOps.normalizeText(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("perceptual phash pipeline: streaming banded self-join matches batch hammingPairs") {
    // imageHashes is a stateless mapPartitions kernel, so the SAME
    // operator body hashes a readStream of image payloads; the banded
    // Hamming join becomes a stream-stream inner equi-join on
    // (band, bits) — Spark's supported shape for append-mode joins.
    // Batch hammingPairs is the ground truth, pair for pair.
    import graft.multimodal.Multimodal
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-phash-stream").toFile
    val ids = (0L until 180L by 3L).toSeq // the image cohort: doc_id % 3 == 0
    val mediaBatch = spark.createDataset(
      ids.map(id => Multimodal.MediaRow(id, "image", Multimodal.syntheticPng(id))))
    mediaBatch.toDF().write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val mediaSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("media_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType)))
    def hashedStream() = Multimodal.imageHashes(
      spark.readStream.schema(mediaSchema).parquet(srcDir.getAbsolutePath)
        .as[Multimodal.MediaRow])

    // band both sides with the SAME helper hammingPairs joins on (7
    // bands for radius 6 over 64 bits); the distinct/threshold
    // reduction runs on the sink because append-mode streams can't
    // re-aggregate the joined pairs
    def banded(df: org.apache.spark.sql.DataFrame) =
      graft.text.TextOps.hammingBands(
        df.select(col("doc_id").as("id"), col("dhash").as("sig")),
        sigBits = 64, maxHamming = 6)
    val joined = banded(hashedStream()).toDF("id_a", "sig_a", "band", "bits")
      .join(banded(hashedStream()).toDF("id_b", "sig_b", "band", "bits"), Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sig_a ^ sig_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= 6)
    val q = joined.writeStream.format("memory").queryName("phash_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // a pair may surface from several agreeing bands — dedup at the sink
    val streamed = spark.table("phash_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.text.TextOps.hammingPairs(
        Multimodal.imageHashes(mediaBatch).toDF("id", "sig"), sigBits = 64, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed ${streamed.size} pairs vs batch ${batch.size}")
  }

  test("CDC chunking is stream-transparent (per-document kernel, no state)") {
    // the content-defined chunker is a stateless per-document
    // mapPartitions kernel, so the SAME operator body runs unmodified
    // on a readStream source; the cross-document df aggregation of
    // cdcChunkStats is the batch-side consumer of these rows
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cdc-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(srcDir.getAbsolutePath)

    val q = graft.text.TextOps.cdcChunks(src, k = 8, modulus = 64)
      .writeStream.format("memory").queryName("cdc_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1))
    // multiset parity: the same chunk text can occur twice in one doc,
    // so compare sorted sequences, not sets
    val streamed = spark.table("cdc_stream").collect().map(key).sorted.toSeq
    val batch = graft.text.TextOps.cdcChunks(docs, k = 8, modulus = 64)
      .collect().map(key).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stratified sampling is stream-transparent (hash-deterministic keep decision, no state)") {
    // the keep decision is a pure hash of (id, salt) against the
    // stratum's rate — no state, no global pass — so the SAME mixing
    // operator runs unmodified over a stream of arriving documents
    val srcDir = java.nio.file.Files.createTempDirectory("graft-mix-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang")).filter(col("doc_id") < 120)
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType))))
      .parquet(srcDir.getAbsolutePath)

    val rates = Map("en" -> 1.0, "de" -> 0.5, "es" -> 0.25, "zh" -> 0.75)
    val q = graft.text.TextOps.stratifiedSample(src, rates, defaultRate = 1.0, salt = "mix1")
      .select(col("doc_id"), col("lang"))
      .writeStream.format("memory").queryName("mix_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1))
    val streamed = spark.table("mix_stream").collect().map(key).sorted.toSeq
    val batch = graft.text.TextOps.stratifiedSample(docs, rates, defaultRate = 1.0, salt = "mix1")
      .select(col("doc_id"), col("lang")).collect().map(key).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("hashed classifier scoring is stream-transparent (narrow column op, no state)") {
    // the classifier is tokenize -> integer fold -> divide with zero
    // exchanges (PlanSpec-asserted), so the SAME operator body runs
    // unmodified on a readStream source
    val srcDir = java.nio.file.Files.createTempDirectory("graft-clf-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(srcDir.getAbsolutePath)

    val q = graft.text.TextOps.hashedClassifierScore(src)
      .writeStream.format("memory").queryName("clf_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
    val streamed = spark.table("clf_stream").collect().map(key).sorted.toSeq
    val batch = graft.text.TextOps.hashedClassifierScore(docs)
      .collect().map(key).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("winnowing fingerprints are stream-transparent (per-document kernel, no state)") {
    // winnowing became a stateless per-document mapPartitions kernel,
    // so the SAME operator body runs unmodified on a readStream source
    val srcDir = java.nio.file.Files.createTempDirectory("graft-winnow-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(srcDir.getAbsolutePath)

    val q = graft.text.TextOps.winnowFingerprints(src, k = 8, w = 4)
      .writeStream.format("memory").queryName("winnow_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val streamed = spark.table("winnow_stream").collect().map(key).toSet
    val batch = graft.text.TextOps.winnowFingerprints(docs, k = 8, w = 4)
      .collect().map(key).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("gopher rule gates are stream-transparent (narrow per-row op, no state)") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-gopher-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(srcDir.getAbsolutePath)

    val q = graft.text.TextOps.gopherRules(src)
      .select(col("doc_id"), col("keep"), col("n_words"))
      .writeStream.format("memory").queryName("gopher_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getBoolean(1), r.getLong(2))
    val streamed = spark.table("gopher_stream").collect().map(key).sorted.toSeq
    val batch = graft.text.TextOps.gopherRules(docs)
      .select(col("doc_id"), col("keep"), col("n_words")).collect().map(key).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("context windows are stream-transparent (narrow column op, no state)") {
    // size/stride chunking is pure per-row column math — the long-doc
    // preparation step runs unmodified over a readStream source
    val srcDir = java.nio.file.Files.createTempDirectory("graft-win-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 80)
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(srcDir.getAbsolutePath)

    val q = graft.text.TextOps.contextWindows(src, size = 64, stride = 48)
      .writeStream.format("memory").queryName("win_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
    val streamed = spark.table("win_stream").collect().map(key).sorted.toSeq
    val batch = graft.text.TextOps.contextWindows(docs, size = 64, stride = 48)
      .collect().map(key).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("CMS cells stream as a complete-mode count aggregation, equal to the batch cells") {
    // the occurrence-path sketch is ONE streaming-legal aggregation;
    // micro-batched cells must equal the batch cells exactly (counts
    // merge by the aggregation itself)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-cms-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 150)
    docs.repartition(2).write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.getAbsolutePath)

    val q = graft.text.TextOps.cmsCells(src, d = 4, w = 512)
      .writeStream.format("memory").queryName("cms_stream").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getInt(0), r.getInt(1), r.getLong(2))
    val streamed = spark.table("cms_stream").collect().map(key).sorted.toSeq
    val batch = graft.text.TextOps.cmsCells(docs, d = 4, w = 512).collect().map(key).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("JSON field stats stream as a complete-mode aggregation, equal to the batch stats") {
    // one streaming-legal groupBy over the codegen'd path extraction:
    // the semi-structured sidecar parse runs unmodified on a stream
    val srcDir = java.nio.file.Files.createTempDirectory("graft-json-stream").toFile
    val raw = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    raw.repartition(2).write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(StreamOps.eventsSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.getAbsolutePath)

    val q = graft.events.EventOps.jsonFieldStats(src)
      .writeStream.format("memory").queryName("json_stream").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val streamed = spark.table("json_stream").collect().map(key).sorted.toSeq
    val batch = graft.events.EventOps.jsonFieldStats(raw).collect().map(key).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming exact-dedup state survives a checkpointed restart (exactly-once across restarts)") {
    // the production streaming concern: a query dies mid-corpus and
    // restarts from its checkpoint — recovered flatMapGroupsWithState
    // state must keep suppressing contents already emitted BEFORE the
    // restart, and already-committed output must not re-emit
    import org.apache.spark.sql.types._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ck-src").toFile
    val outDir = java.nio.file.Files.createTempDirectory("graft-ck-out").toFile
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck-state").toFile
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def start() = StreamOps.streamingExactDedup(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(srcDir.getAbsolutePath))
      .toDF("text_hash", "doc_id")
      .writeStream.format("parquet")
      .option("path", outDir.getAbsolutePath)
      .option("checkpointLocation", ckDir.getAbsolutePath)
      .outputMode("append").start()

    // phase 1: first half of the corpus
    all.filter(col("doc_id") < 250).write.mode("append").parquet(srcDir.getAbsolutePath)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // phase 2: second half PLUS a full replay of the first (every
    // phase-1 content redelivered after the restart)
    all.write.mode("append").parquet(srcDir.getAbsolutePath)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir.getAbsolutePath).collect()
      .map(r => r.getString(0)).toSeq
    val wantDistinct = all.select(md5(col("text"))).distinct().count()
    assert(out.size.toLong == wantDistinct,
      s"${out.size} emissions for $wantDistinct distinct contents (state lost or output replayed)")
    assert(out.distinct.size == out.size, "a content hash was emitted twice across the restart")
  }

  test("BPE pair cells stream as a complete-mode count aggregation, equal to the batch counts") {
    // the occurrence-path pair counting is ONE streaming-legal
    // aggregation; micro-batched cells must equal the batch-side
    // vocabulary-compressed counts exactly (same math, different plan —
    // an independent cross-check of the two formulations)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-bpe-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 150)
    docs.repartition(2).write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.getAbsolutePath)

    val q = graft.text.TextOps.bpePairCells(src)
      .writeStream.format("memory").queryName("bpe_stream").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1), r.getLong(2))
    val streamed = spark.table("bpe_stream").collect().map(key).sorted.toSeq
    // batch side uses the VOCABULARY-compressed two-stage form
    val batch = graft.text.TextOps.bpePairStats(docs, topK = Int.MaxValue)
      .collect().map(key).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("HLL registers stream as a complete-mode max aggregation; finalize equals batch estimate") {
    // the register table IS a streaming-legal groupBy+max — the
    // incremental-ingestion shape of the cardinality sketch: streamed
    // registers merged across micro-batches must finalize to the SAME
    // estimate as one batch pass (mergeability is the whole point)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-hll-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")).filter(col("doc_id") < 150)
    // two parquet files -> at least two input splits for the stream
    docs.repartition(2).write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1) // force multi-batch register merging
      .parquet(srcDir.getAbsolutePath)

    val q = graft.text.TextOps.hllShingleRegisters(src, n = 3)
      .writeStream.format("memory").queryName("hll_stream").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def est(regs: org.apache.spark.sql.DataFrame) =
      graft.text.TextOps.hllEstimate(regs).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    val streamed = est(spark.table("hll_stream"))
    val batch = est(graft.text.TextOps.hllShingleRegisters(docs, n = 3))
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed registers diverge from batch:\n$streamed\n$batch")
  }

  test("event-rate counts stream in complete mode and converge to the batch counts") {
    // the anomaly gate's input is a streaming-legal groupBy+count —
    // the live rate monitor: streamed (type, bucket) counts across
    // micro-batches must equal one batch pass over the same events
    val srcDir = java.nio.file.Files.createTempDirectory("graft-rate-stream").toFile
    val ev = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select(col("event_id"), col("event_type"), col("ts"))
    ev.repartition(2).write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", 1) // force multi-batch merging
      .parquet(srcDir.getAbsolutePath)
    val q = graft.events.EventOps.eventRateCounts(src, bucket = 86400L * 1000000L)
      .writeStream.format("memory").queryName("rate_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val streamed = key(spark.table("rate_stream"))
    val batch = key(graft.events.EventOps.eventRateCounts(ev, bucket = 86400L * 1000000L))
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed ${streamed.size} count rows vs batch ${batch.size}")
  }

  test("streaming funnel depth updates reproduce the batch funnel counts") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-funnel-stream").toFile
    val raw = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .limit(800)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    raw.write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val maxTs = spark.read.parquet(srcDir.getAbsolutePath)
      .agg(max(col("ts"))).head().getLong(0)

    val steps = Seq("view", "click", "purchase")
    val within = 86400000000L
    val src = spark.readStream.schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingFunnelDepth(src, steps, within, watermark = "2 hours")
      .writeStream.format("memory").queryName("funnel_stream").outputMode("update").start()
    try {
      q.processAllAvailable()
      // push the watermark beyond every real event (sentinels must be a
      // step type to survive the filter; user -1 is excluded below)
      for (k <- 1 to 2) {
        Seq((-(k.toLong), maxTs + k * 100L * 3600L * 1000000L, -1L, "view", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(srcDir.getAbsolutePath)
        q.processAllAvailable()
      }
    } finally q.stop()

    // depth updates are monotone: per-user max step_idx is final depth
    val depths = spark.table("funnel_stream")
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id")).agg(max(col("step_idx")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val staged = spark.read.parquet(srcDir.getAbsolutePath)
      .filter(col("event_id") >= 0)
    val batch = graft.events.EventOps.funnel(staged, steps, within)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(batch.values.exists(_ > 0), "degenerate fixture: nobody enters the funnel")
    steps.indices.foreach { i =>
      val streamedN = depths.count(_._2 >= i).toLong
      assert(streamedN == batch(i),
        s"step $i: streamed $streamedN users vs batch ${batch(i)}")
    }
  }

  test("streaming retention facts reproduce the batch cohort table") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-retention-stream").toFile
    val raw = graft.events.EventOps.toMicros(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .limit(800)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    raw.write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val maxTs = spark.read.parquet(srcDir.getAbsolutePath)
      .agg(max(col("ts"))).head().getLong(0)

    val bucket = 604800000000L // 7 days of micros
    val maxOffset = 4
    val src = spark.readStream.schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingRetention(src, "signup", bucket, maxOffset,
        watermark = "2 hours")
      .writeStream.format("memory").queryName("retention_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      for (k <- 1 to 2) {
        Seq((-(k.toLong), maxTs + k * 100L * 3600L * 1000000L, -1L, "signup", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(srcDir.getAbsolutePath)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamedRows = spark.table("retention_stream")
      .filter(col("user_id") >= 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly-once per (user, cohort, k): the append facts must be unique
    assert(streamedRows.length == streamedRows.distinct.length,
      "duplicate retention fact emitted")
    val streamed = streamedRows.groupBy(r => (r._1, r._2))
      .map { case (ck, xs) => ck -> xs.length.toLong }
    val staged = spark.read.parquet(srcDir.getAbsolutePath)
      .filter(col("event_id") >= 0)
    val batch = graft.events.EventOps.retentionCohorts(staged, "signup", bucket, maxOffset)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty && streamed == batch,
      s"streamed facts diverge from batch:\n$streamed\nvs\n$batch")
  }

  test("retention survives buffered activity below the watermark (timeout clamp)") {
    import spark.implicits._
    // the hazard the parity spec's one-jump sentinel cannot reach:
    // user 7's anchor-less activity sits in the SAME bucket as the
    // watermark (so the state-bounding drop retains it) but BELOW the
    // watermark itself, so the re-armed wake time (min buffered ts)
    // is below the watermark — unclamped, Spark's setTimeoutTimestamp
    // throws and kills the query on the post-watermark-advance rebatch
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ret-clamp").toFile
    val day = 86400000000L
    // align t0 to 1h past a 7-day bucket boundary: a +1d watermark
    // mover then lands the watermark in t0's own bucket, above t0
    val t0 = Math.floorDiv(1700000000000000L, 7 * day) * (7 * day) + 3600000000L
    def write(rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.map { case (eid, ts, uid, typ) => (eid, ts, uid, typ, 0.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(srcDir.getAbsolutePath)

    // batch 1: user 7 activity only + a same-bucket watermark mover
    write(Seq((1L, t0, 7L, "click"), (2L, t0 + day, 99L, "click")))
    val src = spark.readStream.schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingRetention(src, "signup",
        bucket = 7 * day, maxOffset = 4, watermark = "2 hours")
      .writeStream.format("memory").queryName("ret_clamp_stream")
      .outputMode("append").start()
    try {
      // watermark advances to t0+1d-2h: the rebatch fires user 7's
      // timeout with t0 still buffered (same bucket) — the re-arm
      // that used to throw happens right here
      q.processAllAvailable()
      // batch 2: the anchor arrives ABOVE the watermark while t0 sits
      // below it — the with-data re-arm path of the same hazard
      write(Seq((3L, t0 + 20 * day, 7L, "signup")))
      q.processAllAvailable()
      // finalize everything
      for (k <- 1 to 2) {
        write(Seq((-(k.toLong), t0 + (40 + k) * day, -1L, "signup")))
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("ret_clamp_stream")
      .filter(col("user_id") >= 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 7's cohort anchors at t0+20d; the pre-anchor click is k < 0
    // (dropped by both engines); the anchor itself is k = 0 activity
    val expectedCohort = Math.floorDiv(t0 + 20 * day, 7 * day)
    assert(streamed == Set((expectedCohort, 0L, 7L)),
      s"unexpected retention facts: $streamed")
  }

  test("streaming ExactSubstr spans against a static dup-gram set reproduce the batch spans") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-substr-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"),
        // deterministic event time: one doc per second from an epoch
        (lit(1700000000000000L) + col("doc_id") * 1000000L).as("ts"))
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val maxTs = docs.agg(max(col("ts"))).head().getLong(0)

    // the static side: duplicated-gram set built from the same corpus
    // in batch (the historical-corpus deployment shape)
    val dupGrams = graft.text.CorpusOps.dupGramSet(docs, n = 8).persist()
    assert(dupGrams.count() > 0, "degenerate fixture: no duplicated grams")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType)))
    val src = spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingDupSubstringSpans(src, dupGrams, n = 8,
        watermark = "2 hours")
      .writeStream.format("memory").queryName("substr_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // sentinels push the watermark beyond every real document so the
      // event-time timeouts finalize all buffered state (two hops, as
      // in the retention spec; filtered out of the compare by id < 0)
      for (k <- 1 to 2) {
        Seq((-(k.toLong), "a b", maxTs + k * 100L * 3600L * 1000000L))
          .toDF("doc_id", "text", "ts")
          .write.mode("append").parquet(srcDir.getAbsolutePath)
        q.processAllAvailable()
      }
    } finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val streamed = spark.table("substr_stream")
      .filter(col("doc_id") >= 0).collect().map(key).sorted.toSeq
    // batch twin over the same corpus: the dup-gram set was built from
    // exactly these documents, so the restriction is vacuous and the
    // rows must match one for one
    val batch = graft.text.CorpusOps.dupSubstringSpans(
        docs.select(col("doc_id"), col("text")), n = 8)
      .collect().map(key).sorted.toSeq
    dupGrams.unpersist()
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} spans vs batch ${batch.size}")
  }

  test("streaming WordPiece encoding against batch-trained pieces reproduces the batch report") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-wp-stream").toFile
    // plus a token-less document: BOTH paths must drop it (batch: no
    // word rows to join; streaming: empty split -> no output row)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((-1L, "   ")).toDF("doc_id", "text"))
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    // static side: the piece inventory trained in batch on the same
    // corpus (the historical-corpus deployment shape)
    val pieces = graft.text.TextOps.wordpiecePieces(docs, merges = 10)
    assert(pieces.nonEmpty)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val src = spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingWordpieceEncode(src, pieces.toSeq)
      .writeStream.format("memory").queryName("wp_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val streamed = spark.table("wp_stream").collect().map(key).sorted.toSeq
    // batch twin: trained on exactly this corpus, so rows must match
    // one for one (per-distinct-word join vs per-occurrence walk)
    val batch = graft.text.TextOps.wordpieceEncode(docs, merges = 10)
      .collect().map(key).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} rows vs batch ${batch.size}")
    assert(!streamed.exists(_._1 == -1L), "token-less document must produce no row")
  }

  test("streaming WordPiece encoding preserves a string-keyed corpus id (batch-twin contract)") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-wp-strid").toFile
    // string-keyed corpus: the batch twin deliberately preserves the
    // source id type, so the stream must too (a forced long cast would
    // null-decode here and crash the query)
    val docs = Seq(("doc-a", "ab abab"), ("doc-b", "ab"), ("doc-c", "   "))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val pieces = graft.text.TextOps.wordpiecePieces(
      docs.filter(col("doc_id") =!= "doc-c"), merges = 2)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val src = spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingWordpieceEncode(src, pieces.toSeq)
      .writeStream.format("memory").queryName("wp_stream_strid")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val streamed = spark.table("wp_stream_strid").collect().map(key).sorted.toSeq
    val batch = graft.text.TextOps.wordpieceEncode(docs, merges = 2)
      .collect().map(key).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed $streamed vs batch $batch")
    assert(!streamed.exists(_._1 == "doc-c"), "token-less document must produce no row")
  }

  test("streaming weighted sample converges to the batch A-ES sample across arrival splits") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ws-stream").toFile
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"))
    // two arrival waves + a re-delivered overlap: the final sample must
    // be a pure function of the SET of rows, not of arrival grouping
    docs.filter(col("doc_id") % 3 =!= 0).write.mode("overwrite")
      .parquet(srcDir.getAbsolutePath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val src = spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
    val k = 5
    val q = StreamOps.streamingWeightedSample(src, k, salt = "ws-stream")
      .writeStream.format("memory").queryName("ws_stream")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // second wave: the remaining third PLUS re-delivered rows
      docs.filter(col("doc_id") % 3 === 0 || col("doc_id") % 7 === 0)
        .write.mode("append").parquet(srcDir.getAbsolutePath)
      q.processAllAvailable()
    } finally q.stop()
    // current sample = the max-seq emission per stratum
    val em = spark.table("ws_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val maxSeq = em.groupBy(_._1).map { case (s, rows) => s -> rows.map(_._4).max }
    val streamed = em.filter { case (s, _, _, q2) => maxSeq(s) == q2 }
      .map(t => (t._1, t._2, t._3)).toSet
    val batch = graft.text.TextOps.weightedSamplePerStratum(
        docs, k, salt = "ws-stream")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}")
  }

  test("streaming unigram encoding against the batch-trained model reproduces the batch report") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ug-stream").toFile
    // plus a token-less document: both paths must drop it
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((-1L, "   ")).toDF("doc_id", "text"))
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    // static side: the unigram model trained in batch on the same
    // corpus (the historical-corpus deployment shape)
    val (vocab, words) = graft.text.UnigramOps.unigramArtifacts(
      docs, maxPieceLen = 4, seedMulti = 32, iters = 2)
    val costs = vocab.collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(costs.nonEmpty)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val src = spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingUnigramEncode(src, costs, maxPieceLen = 4)
      .writeStream.format("memory").queryName("ug_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val streamed = spark.table("ug_stream").collect().map(key).sorted.toSeq
    // batch twin: per-distinct-word broadcast join vs the stream's
    // per-occurrence DP — rows must match one for one
    val batch = graft.text.UnigramOps.unigramEncodeFromVocab(
        docs, words, vocab, maxPieceLen = 4)
      .collect().map(key).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} rows vs batch ${batch.size}")
    assert(!streamed.exists(_._1 == -1L), "token-less document must produce no row")
  }

  test("streaming index probe emits exactly the batch candidate set, across late shards") {
    // base corpus -> persisted index; the rest of the corpus streams in
    // as two file drops. The streamed candidates must equal the batch
    // bucket-join candidates for the SAME documents — the row-local
    // kernel and the stream-static join change the execution shape,
    // never the candidate set.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val s1 = docs.filter(col("doc_id") % 6 === 0)
    val s2 = docs.filter(col("doc_id") % 6 === 3)
    val ixDir = java.nio.file.Files.createTempDirectory("graft-six").toString
    graft.io.DedupIndexIO.writeIndex(base, ixDir, numHashes = 64, bands = 16)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-six-src").toString
    s1.coalesce(1).write.mode("append").parquet(srcDir)
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(srcDir)
    val q = graft.streaming.StreamOps.streamingIndexProbe(spark, ixDir, src)
      .writeStream.format("memory").queryName("index_probe").outputMode("append").start()
    try {
      q.processAllAvailable()
      s2.coalesce(1).write.mode("append").parquet(srcDir) // late shard lands
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("index_probe").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val shard = docs.filter(col("doc_id") % 3 === 0)
    val batchCand = graft.text.TokenTableMinhash.bandBuckets(
        graft.text.TextOps.tokenTable(shard), 64, 16).toDF("id_a", "bucket")
      .join(spark.read.parquet(s"$ixDir/buckets").toDF("id_b", "bucket"), "bucket")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchCand && streamed.nonEmpty,
      s"streamed ${streamed.size} pairs vs batch ${batchCand.size}")
  }

  test("streaming ANN probe: batch top-k over streamed candidates equals the stored probe") {
    // corpus embeddings -> persisted IVF index; a held-out query batch
    // streams in as two file drops. The streamed candidate set is
    // top-k-free by design (no stateful aggregation); cutting top-k in
    // batch over the collected candidates must reproduce
    // AnnIndexIO.probeIndex on the same queries EXACTLY — quantizer,
    // list membership, and cosine are all the same kernels, only the
    // execution shape changes.
    // base must contain ids 0..nlist-1 (the stored-centroid contract)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter(col("vec_id") < 400)
    val queries = emb.filter(col("vec_id") >= 400)
    val q1 = queries.filter(col("vec_id") % 2 === 0)
    val q2 = queries.filter(col("vec_id") % 2 === 1)
    val ixDir = java.nio.file.Files.createTempDirectory("graft-sann").toString
    graft.io.AnnIndexIO.writeIndex(base, ixDir, nlist = 8)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sann-src").toString
    q1.coalesce(1).write.mode("append").parquet(srcDir)
    val src = spark.readStream
      .schema(queries.schema)
      .parquet(srcDir)
    val stream = graft.streaming.StreamOps.streamingAnnProbe(
      spark, ixDir, src, nprobe = 2)
    val q = stream.writeStream.format("memory").queryName("ann_probe")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      q2.coalesce(1).write.mode("append").parquet(srcDir) // late batch lands
      q.processAllAvailable()
    } finally q.stop()
    val streamedTopK = graft.vector.VectorOps.topKPerQuery(
        spark.table("ann_probe"), 3).drop("rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.io.AnnIndexIO.probeIndex(
        spark, ixDir, queries, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamedTopK == batch && streamedTopK.nonEmpty,
      s"streamed-then-cut ${streamedTopK.size} rows vs batch ${batch.size}")
  }

  test("streaming sketch ingest: file-drop shards land in the store; estimate equals one pass") {
    // base shard -> store; the rest streams in as two file drops via
    // foreachBatch appends. The store's estimate after the stream must
    // equal ONE pass over the whole corpus — and because max-merge is
    // idempotent, at-least-once replay of a batch could never change
    // it (the delivery guarantee foreachBatch actually provides is
    // exactly the one the sketch algebra needs).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val base = docs.filter(col("doc_id") % 3 === 0)
    val s1 = docs.filter(col("doc_id") % 3 === 1)
    val s2 = docs.filter(col("doc_id") % 3 === 2)
    val store = java.nio.file.Files.createTempDirectory("graft-sksi").toString
    graft.io.SketchIO.writeSketch(base, store, n = 3)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sksi-src").toString
    s1.coalesce(1).write.mode("append").parquet(srcDir)
    val src = spark.readStream.schema(docs.schema).parquet(srcDir)
    val q = graft.streaming.StreamOps.streamingSketchIngest(spark, store, src)
    try {
      q.processAllAvailable()
      s2.coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val stored = graft.io.SketchIO.estimateFromStore(spark, store)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val onePass = graft.text.TextOps.hllEstimate(
        graft.text.TextOps.hllShingleRegisters(docs, n = 3))
      .select(col("source"), round(col("est"), 4).as("hll_est"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(stored == onePass && stored.nonEmpty,
      s"stored ${stored.size} sources vs one-pass ${onePass.size}")
  }

  test("streaming k-anonymity: complete-mode QI class counts reproduce the batch privacy report") {
    val ev = graft.events.EventOps.toMicros(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .withColumn("day", expr("ts div 86400000000"))
      .select(col("event_id"), col("event_type"), col("day"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-kanon").toString
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(srcDir)
    val src = spark.readStream.schema(ev.schema).parquet(srcDir)
    val q = graft.events.EventOps
      .qiClassCounts(src, Seq("event_type", "day"))
      .writeStream.format("memory").queryName("kanon_classes")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = graft.events.EventOps
      .kAnonymityFromClasses(spark.table("kanon_classes"), k = 5L)
      .collect().head.toSeq
    val batch = graft.events.EventOps
      .kAnonymityReport(ev, Seq("event_type", "day"), k = 5L)
      .collect().head.toSeq
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("streaming MV maintenance: micro-batched deltas reach the one-pass aggregate bit for bit") {
    // base shard -> store; three delta shards stream in as file drops.
    // After the stream, the persisted state must equal ONE aggregation
    // pass over the whole fact — bit-for-bit, because l_quantity sums
    // are integer-valued doubles (< 2^53, the distributiveAgg
    // exactness contract). The MV algebra is additive (NOT
    // idempotent), so the batch-id bookkeeping is also pinned here: a
    // replayed batch id must be refused and change nothing.
    val keys = Seq("l_returnflag", "l_linestatus")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_orderkey"), col("l_quantity"))
    val store = java.nio.file.Files.createTempDirectory("graft-mv").toString
    graft.io.MvIO.createMv(
      li.filter(col("l_orderkey") % 4 === 0), store, keys, "l_quantity")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-mv-src").toString
    def drop(m: Int): Unit = li.filter(col("l_orderkey") % 4 === m)
      .coalesce(1).write.mode("append").parquet(srcDir)
    drop(1)
    val src = spark.readStream.schema(li.schema).parquet(srcDir)
    val q = graft.streaming.StreamOps.streamingMvMaintain(spark, store, src)
    try {
      q.processAllAvailable()
      drop(2)
      q.processAllAvailable()
      drop(3)
      q.processAllAvailable()
    } finally q.stop()
    def face(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
    val streamed = face(graft.io.MvIO.readState(spark, store))
    val onePass = face(graft.rel.RelOps.distributiveAgg(li, keys, "l_quantity"))
    assert(streamed.nonEmpty && streamed == onePass,
      s"streamed state diverges from the one-pass aggregate: " +
        s"${streamed.take(2)} vs ${onePass.take(2)}")
    // replay guard: the last committed batch id, re-applied, is a no-op
    val (_, lastBatch) = graft.io.MvIO.latestCommitted(store)
    assert(!graft.io.MvIO.applyDelta(
      spark, store, li.filter(col("l_orderkey") % 4 === 3), lastBatch))
    assert(face(graft.io.MvIO.readState(spark, store)) == onePass,
      "a replayed batch id mutated the MV state")
  }

  test("streaming MV maintenance: durable checkpoint survives a query restart; checkpoint-less resume of an advanced store is refused") {
    // Restart semantics are where the exactly-once contract actually
    // bites: without a durable checkpointLocation a restarted query's
    // batch ids begin again at 0, applyDelta classifies every new
    // micro-batch as replay, and fresh data is SILENTLY dropped. With
    // the checkpoint the second query resumes the batch-id sequence
    // and the state converges to the one-pass aggregate.
    val keys = Seq("l_returnflag", "l_linestatus")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_orderkey"), col("l_quantity"))
    val store = java.nio.file.Files.createTempDirectory("graft-mv-ckpt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mv-ckpt-loc").toString
    graft.io.MvIO.createMv(
      li.filter(col("l_orderkey") % 3 === 0), store, keys, "l_quantity")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-mv-ckpt-src").toString
    def drop(m: Int): Unit = li.filter(col("l_orderkey") % 3 === m)
      .coalesce(1).write.mode("append").parquet(srcDir)
    def start() = graft.streaming.StreamOps.streamingMvMaintain(
      spark, store,
      spark.readStream.schema(li.schema).parquet(srcDir), Some(ckpt))
    drop(1)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // the store has now committed batch ids > -1; a RESTART without a
    // checkpoint must be refused loudly instead of silently dropping
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.streamingMvMaintain(
        spark, store, spark.readStream.schema(li.schema).parquet(srcDir))
    }
    assert(ex.getMessage.contains("checkpointLocation"), ex.getMessage)
    drop(2)
    val q2 = start() // resumes the checkpointed batch-id sequence
    try q2.processAllAvailable() finally q2.stop()
    def face(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
    val onePass = face(graft.rel.RelOps.distributiveAgg(li, keys, "l_quantity"))
    assert(face(graft.io.MvIO.readState(spark, store)) == onePass,
      "restarted stream with durable checkpoint diverges from one-pass aggregate")
  }

  test("as-of equal-ts anchor ties resolve identically in batch and stream, independent of arrival order") {
    import spark.implicits._
    // deliberate equal-timestamp tie between two right anchors, with
    // the SMALLER id arriving in a LATER micro-batch: a stream that
    // resolved ties by arrival order instead of the batch rule would
    // pass a whole-corpus parity (real fixtures carry no exact micro-
    // second ties) and still diverge here. Backward rule (asofLatest):
    // among equal anchor timestamps the LARGEST id wins (batch last()
    // over id asc); forward rule (asofNearest forward): the SMALLEST
    // id wins (batch first() over id asc).
    val base = 1704000000000000L
    val tol = 3600L * 1000000L
    val srcDir = java.nio.file.Files.createTempDirectory("graft-asof-tie").toFile
    // batch 1: anchor id=2 at T+1s, both probes; the TIED anchor id=1
    // (same ts, smaller id) arrives only in batch 2, before the
    // watermark passes the probes
    Seq(
      (2L, base + 1000000L, 5L, "click", 2.0, "{}"),
      (10L, base + 2000000L, 5L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    // the late tied anchor (same ts, SMALLER id) lands in a second file
    Seq((1L, base + 1000000L, 5L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(srcDir.getAbsolutePath)
    val src = spark.readStream.schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingAsofLatest(src, "purchase", "click", watermark = "1 second")
      .writeStream.format("memory").queryName("asof_tie_bwd")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      for (k <- 1 to 2) {
        Seq((-(k.toLong), base + tol + (k + 10L) * 100L * 3600L * 1000000L, -1L, "click", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(srcDir.getAbsolutePath)
        q.processAllAvailable()
      }
    } finally q.stop()
    val bwd = spark.table("asof_tie_bwd").filter(col("event_id") === 10L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(5)))
    assert(bwd.toSeq == Seq((10L, 2L, 2.0)),
      s"backward tie must pick the LARGEST anchor id (batch rule): ${bwd.toSeq}")
    val staged = spark.read.parquet(srcDir.getAbsolutePath).filter(col("event_id") > 0)
    val bwdBatch = graft.events.EventOps.asofLatest(staged, "purchase", "click")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(5)))
    assert(bwdBatch.toSeq == bwd.toSeq, "backward stream diverges from batch on the tie")
  }

  test("forward as-of equal-ts tie picks the smallest anchor id across an arrival split") {
    import spark.implicits._
    val base = 1704000000000000L
    val tol = 3600L * 1000000L
    val srcDir = java.nio.file.Files.createTempDirectory("graft-asof-tie-fwd").toFile
    // probe at T, tied anchors at T+1s with ids 4 (arrives first) and
    // 3 (arrives later): the forward rule picks id 3 regardless of
    // arrival order
    Seq(
      (10L, base, 5L, "purchase", 0.0, "{}"),
      (4L, base + 1000000L, 5L, "click", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    Seq((3L, base + 1000000L, 5L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(srcDir.getAbsolutePath)
    val src = spark.readStream.schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingAsofNearestForward(
        src, "purchase", "click", toleranceUs = tol, watermark = "1 second")
      .writeStream.format("memory").queryName("asof_tie_fwd2")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      for (k <- 1 to 2) {
        Seq((-(k.toLong), base + tol + (k + 10L) * 100L * 3600L * 1000000L, -1L, "click", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(srcDir.getAbsolutePath)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("asof_tie_fwd2").filter(col("event_id") === 10L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(5)))
    assert(got.toSeq == Seq((10L, 3L, 3.0)),
      s"forward tie must pick the SMALLEST anchor id (batch rule): ${got.toSeq}")
    val staged = spark.read.parquet(srcDir.getAbsolutePath).filter(col("event_id") > 0)
    val batch = graft.events.EventOps.asofNearest(
        staged, "purchase", "click", forward = true, toleranceUs = tol)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(5)))
    assert(batch.toSeq == got.toSeq, "forward stream diverges from batch on the tie")
  }

  test("forward as-of state for an anchors-only quiet user is removed once the watermark passes") {
    import spark.implicits._
    // the r14 leak: a group left with anchors but NO pending probes
    // registered no timeout, never woke again, and retained its last
    // window's full anchor buffer forever. The fix arms a timeout at
    // the last anchor's ts; when it fires the compaction floor (= the
    // watermark) exceeds every anchor and the state row is removed.
    // Observable from outside via stateOperators.numRowsTotal.
    val base = 1704000000000000L
    val tol = 3600L * 1000000L
    val srcDir = java.nio.file.Files.createTempDirectory("graft-asof-anchorleak").toFile
    // user 5: three anchors, zero probes — the quiet-user shape
    Seq(
      (1L, base + 1000000L, 5L, "click", 1.0, "{}"),
      (2L, base + 2000000L, 5L, "click", 2.0, "{}"),
      (3L, base + 3000000L, 5L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val src = spark.readStream.schema(StreamOps.eventsSchema)
      .parquet(srcDir.getAbsolutePath)
    val q = StreamOps.streamingAsofNearestForward(
        src, "purchase", "click", toleranceUs = tol, watermark = "1 second")
      .writeStream.format("memory").queryName("asof_anchorleak")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      for (k <- 1 to 3) {
        Seq((-(k.toLong), base + tol + (k + 10L) * 100L * 3600L * 1000000L, -1L, "click", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("append").parquet(srcDir.getAbsolutePath)
        q.processAllAvailable()
      }
      val stateRows = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      // only the final sentinel's own (user -1) group may survive —
      // its last anchor still sits above the watermark
      assert(stateRows >= 0 && stateRows <= 1,
        s"quiet anchors-only group leaked: $stateRows state rows remain")
    } finally q.stop()
  }

  test("streaming audio fp probe equals the exhaustive batch join; twins found across arrival splits") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val baseIds = (0L until 30L).map(_ * 3 + 1)
    val baseMedia = spark.createDataset(baseIds.map(id =>
      Multimodal.MediaRow(id, "audio", Multimodal.syntheticWav(id))))
    val baseSigs = Multimodal.audioFingerprints(baseMedia).toDF("id", "sig")
    val planted = baseIds.filter(_ % 5 == 0)
    val twinRows = planted.map(id => Multimodal.MediaRow(id + (1L << 40), "audio",
      Multimodal.perturbWav(Multimodal.syntheticWav(id))))
    val freshRows = (2000L until 2010L).map(id =>
      Multimodal.MediaRow(id, "audio", Multimodal.syntheticWav(id)))
    val wave1 = twinRows.take(3) ++ freshRows.take(5)
    val wave2 = twinRows.drop(3) ++ freshRows.drop(5)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-afp-src").toString
    spark.createDataset(wave1).toDF().coalesce(1).write.mode("append").parquet(srcDir)
    val src = spark.readStream.schema(baseMedia.schema).parquet(srcDir)
      .as[Multimodal.MediaRow]
    val q = StreamOps.streamingAudioFpProbe(baseSigs, src, maxHamming = 2)
      .writeStream.format("memory").queryName("afp_probe")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.createDataset(wave2).toDF().coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    // multi-band candidate dedup is the downstream batch cut — the
    // probe emits one row PER matching band but keeps the ORIGINAL
    // (id_a, id_b, hamming) column set (band lives only on the
    // *Banded variant), so a plain distinct() is one row per pair
    assert(spark.table("afp_probe").columns.toSeq ==
      Seq("id_a", "id_b", "hamming"),
      "streamingAudioFpProbe public schema must stay (id_a, id_b, hamming)")
    val streamed = spark.table("afp_probe")
      .select("id_a", "id_b", "hamming").distinct()
      .as[(Long, Long, Long)].collect().toSet
    // exhaustive reference: every (incoming, base) pair within radius
    val inSigs = Multimodal.audioFingerprints(
      spark.createDataset(wave1 ++ wave2)).as[(Long, Long)].collect()
    val bSigs = Multimodal.audioFingerprints(baseMedia).as[(Long, Long)].collect()
    val expect = (for {
      (ia, fa) <- inSigs; (ib, fb) <- bSigs
      if ia != ib && java.lang.Long.bitCount(fa ^ fb) <= 2
    } yield (ia, ib, java.lang.Long.bitCount(fa ^ fb).toLong)).toSet
    assert(streamed == expect && streamed.nonEmpty,
      s"streamed ${streamed.size} pairs vs exhaustive ${expect.size}")
    // every planted twin surfaced its base, regardless of which wave
    // carried it
    for (id <- planted)
      assert(streamed.exists { case (a, b, _) => a == id + (1L << 40) && b == id },
        s"twin of $id never surfaced")
  }

  test("streaming video fp probe equals the exhaustive aligned-frame join across arrival splits") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val baseIds = (0L until 24L).map(_ * 3 + 2)
    def frames(id: Long, key: Long, perturb: Boolean): Seq[(Long, Long, Array[Byte])] =
      (0 until (2 + (id % 5).toInt)).map { f =>
        val p = Multimodal.syntheticPngFrame(id, f)
        (key, f.toLong, if (perturb) Multimodal.perturbPngFrame(p) else p)
      }
    val baseFrames = baseIds.flatMap(id => frames(id, id, perturb = false))
      .toDF("doc_id", "frame_idx", "payload")
    val baseSigs = Multimodal.frameHashes(baseFrames)
    val planted = baseIds.filter(_ % 5 == 0)
    val twinRows = planted.flatMap(id =>
      frames(id, id + (1L << 40), perturb = true))
    val freshRows = (3000L until 3004L).flatMap(id =>
      frames(id, id, perturb = false))
    val wave1 = twinRows.take(twinRows.size / 2) ++ freshRows.take(4)
    val wave2 = twinRows.drop(twinRows.size / 2) ++ freshRows.drop(4)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-vfp-src").toString
    val schema = baseFrames.schema
    wave1.toDF("doc_id", "frame_idx", "payload").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val src = spark.readStream.schema(schema).parquet(srcDir)
    val q = StreamOps.streamingVideoFpProbe(baseSigs, src, maxHamming = 2)
      .writeStream.format("memory").queryName("vfp_probe")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      wave2.toDF("doc_id", "frame_idx", "payload").coalesce(1)
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    // band multiplicity is visible in the schema; frame-level dedup
    // (and the majority rollup) are the downstream batch cut
    val streamed = spark.table("vfp_probe")
      .select("id_a", "id_b", "frame_idx", "hamming").distinct()
      .as[(Long, Long, Long, Long)].collect().toSet
    // exhaustive reference: every (incoming frame, base frame) pair at
    // the same frame_idx within radius
    val inSigs = Multimodal.frameHashes(
      (wave1 ++ wave2).toDF("doc_id", "frame_idx", "payload"))
      .as[(Long, Long, Long)].collect()
    val bSigs = baseSigs.as[(Long, Long, Long)].collect()
    val expect = (for {
      (ia, fa, ha) <- inSigs; (ib, fb, hb) <- bSigs
      if ia != ib && fa == fb && java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield (ia, ib, fa, java.lang.Long.bitCount(ha ^ hb).toLong)).toSet
    assert(streamed == expect && streamed.nonEmpty,
      s"streamed ${streamed.size} frame candidates vs exhaustive ${expect.size}")
    // every planted twin surfaces its base at frame 0, whichever wave
    // carried that frame
    for (id <- planted)
      assert(streamed.exists { case (a, b, f, _) =>
        a == id + (1L << 40) && b == id && f == 0L },
        s"video twin of $id never surfaced")
  }

  test("streaming shingle probe equals the exhaustive gram intersection across arrival splits") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.types._
    val baseIds = (0L until 24L).map(_ * 3 + 2)
    def frames(id: Long, key: Long, shift: Int): Seq[(Long, Long, Array[Byte])] = {
      val nf = 2 + (id % 5).toInt
      (0 until nf - shift).map(f =>
        (key, f.toLong, Multimodal.syntheticPngFrame(id, f + shift)))
    }
    val baseFrames = baseIds.flatMap(id => frames(id, id, 0))
      .toDF("doc_id", "frame_idx", "payload")
    val baseSigs = Multimodal.frameHashes(baseFrames)
    val gramIndex = Multimodal.sequenceGramIndex(baseSigs, k = 2)
    // incoming clips: head-cut twins (+2^41) whose frame j is the
    // base's j+1 — invisible to the aligned probe by construction —
    // plus fresh unrelated clips; each clip is ONE row (doc_id, the
    // ordered frame-hash sequence), the unit a finished upload presents
    val planted = baseIds.filter(_ % 5 == 1)
    val twinFrames = planted.flatMap(id => frames(id, id + (1L << 41), 1))
    val freshFrames = (5000L until 5004L).flatMap(id => frames(id, id, 0))
    val toClips = (sigs: org.apache.spark.sql.DataFrame) => sigs
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(frame_idx, fp))), s -> s.fp)")
        .as("sigs"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    val clips = toClips(Multimodal.frameHashes(
      (twinFrames ++ freshFrames).toDF("doc_id", "frame_idx", "payload")))
    val (wave1, wave2) = clips.splitAt(clips.size / 2)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-shp-src").toString
    wave1.toDF("doc_id", "sigs").coalesce(1).write.mode("append").parquet(srcDir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sigs", ArrayType(LongType))))
    val src = spark.readStream.schema(schema).parquet(srcDir)
    val q = StreamOps.streamingShingleProbe(gramIndex, src, k = 2)
      .writeStream.format("memory").queryName("shingle_probe")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      wave2.toDF("doc_id", "sigs").coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    // quorum/count rollup is the downstream batch cut: distinct shared
    // grams per pair (the gram rides in the schema — multiplicity is
    // one row PER shared gram, never one row per pair)
    val streamed = spark.table("shingle_probe")
      .select(col("id_a"), col("id_b"), col("g")).distinct()
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .as[(Long, Long, Long)].collect().toSet
    // exhaustive reference: gram-set intersections computed driver-side
    def gramsOf(s: Seq[Long]): Set[Seq[Long]] =
      s.sliding(2).filter(_.size == 2).map(_.toSeq).toSet
    val baseSeqs = toClips(baseSigs)
    val expect = (for {
      (ia, sa) <- clips; (ib, sb) <- baseSeqs
      if ia != ib
      n = gramsOf(sa).intersect(gramsOf(sb)).size
      if n > 0
    } yield (ia, ib, n.toLong)).toSet
    assert(streamed == expect && streamed.nonEmpty,
      s"streamed ${streamed.size} pairs vs exhaustive ${expect.size}")
    // every head-cut twin surfaced its base, whichever wave carried it
    for (id <- planted)
      assert(streamed.exists { case (a, b, _) => a == id + (1L << 41) && b == id },
        s"head-cut twin of $id never surfaced")
  }
}
