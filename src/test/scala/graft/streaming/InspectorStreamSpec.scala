package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TestSpark}
import graft.inspector.{Inspector, KeyedSegment, SyntheticTraffic}

class InspectorStreamSpec extends SparkSpec {

  private lazy val allSegments: Seq[KeyedSegment] =
    Inspector.segments(spark, SyntheticTraffic.ensurePcapDir())
      .collect().toSeq.sortBy(s => (s.ts, s.order))

  test("state envelope: round-trips the snapshot; wrong version fails with message") {
    import graft.inspector.{ConnSnapshot, ScanState, StateEnvelope}
    val scan = ScanState.State(
      Map(9001L -> ScanState.Entry(ScanState.RegionInfo(Some("t"), None), 900L)))
    val snap = ConnSnapshot(Array[Byte](1, 2, 3), Array.empty,
      Map(7 -> (graft.proto.HbaseRpc.RpcInfo("get", 7), 1000L)), scan)
    val back = StateEnvelope.unwrap(StateEnvelope.wrap(snap))
    assert(back.inBuf.toSeq === Seq[Byte](1, 2, 3))
    assert(back.pending(7)._1.method === "get")
    assert(back.scan === scan)
    // a checkpoint written by an older build fails fast and actionably,
    // not with a raw deserialization error
    for (v <- Seq(1, 2, 3)) {
      val e = intercept[IllegalStateException] {
        StateEnvelope.unwrap(StateEnvelope.wrap(snap).copy(version = v))
      }
      assert(e.getMessage.contains(s"version $v"))
      assert(e.getMessage.contains("fresh checkpoint"))
    }
  }

  test("streaming pipeline emits the same records as batch, across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext

    val ms = MemoryStream[KeyedSegment]
    val query = InspectorStream.records(ms.toDS(), withIdleTimeout = false)
      .writeStream.format("memory").queryName("stream_records")
      .outputMode("append").start()
    try {
      // split mid-capture: the second chunk starts INSIDE the split big-get
      // frame of conn B, so reassembly state must survive the batch boundary
      val cut = allSegments.indexWhere(seg =>
        seg.client == "10.0.0.2" && seg.inbound) + 1
      ms.addData(allSegments.take(cut))
      query.processAllAvailable()
      ms.addData(allSegments.drop(cut))
      query.processAllAvailable()

      val streamed = s.table("stream_records")
        .select(col("client"), col("port"), col("call_id"), col("inbound"),
          col("method"), col("cells"), col("elapsed"))
        .collect().map(_.toSeq).toSet
      val batch = Inspector.records(s, SyntheticTraffic.ensurePcapDir())
        .toDF()
        .select(col("client"), col("port"), col("call_id"), col("inbound"),
          col("method"), col("cells"), col("elapsed"))
        .collect().map(_.toSeq).toSet
      assert(streamed === batch)
      assert(streamed.size ===
        SyntheticTraffic.ExpectedRequests + SyntheticTraffic.ExpectedResponses)
    } finally query.stop()
  }

  test("rotated capture in mtime order: batch records equal streaming at every maxFilesPerTrigger") {
    // A's request at +125 s sits in an intermediate file, so after that
    // file its call at 0 s has expired and the response at +126 s goes
    // unmatched; B's response 119 s after its request still matches; C
    // leaks a scanner that expires before its late next-rows; D's request
    // frame is split across two files
    val s = spark
    import java.nio.file.{Files, Path}
    import java.nio.file.attribute.FileTime
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.inspector.RecordInfo
    import graft.pcap.{LinkDecode, PcapFile}
    import graft.proto.ProtoWire.{writer, Writer}
    def frame(parts: Writer*): Array[Byte] = {
      val body = parts.toArray.flatMap(_.toDelimitedBytes)
      Array[Byte]((body.length >>> 24).toByte, (body.length >>> 16).toByte,
        (body.length >>> 8).toByte, body.length.toByte) ++ body
    }
    def getReq(callId: Int, row: String): Array[Byte] = frame(
      writer.varint(1, callId.toLong).string(3, "Get").bool(4, true),
      writer.msg(1, writer.varint(1, 1L)
          .bytes(2, SyntheticTraffic.regionName("trot").getBytes(UTF_8)))
        .msg(2, writer.bytes(1, row.getBytes(UTF_8))))
    def res(callId: Int): Array[Byte] = frame(writer.varint(1, callId.toLong))
    val openScanReq = frame(
      writer.varint(1, 30L).string(3, "Scan").bool(4, true),
      writer.msg(1, writer.varint(1, 1L)
          .bytes(2, SyntheticTraffic.regionName("tleak").getBytes(UTF_8)))
        .msg(2, writer.bytes(3, "a".getBytes(UTF_8)).varint(17, 100L)))
    val openScanRes = frame(writer.varint(1, 30L), writer.varint(1, 1L).varint(2, 7007L))
    val nextRows = frame(writer.varint(1, 33L).string(3, "Scan").bool(4, true),
      writer.varint(3, 7007L).varint(4, 10L))
    val (splitA, splitB) = getReq(40, "d" * 400).splitAt(200)
    val T0 = 1700000000000L
    // (ts offset ms, client, inbound, payload), one Seq per capture file
    val files: Seq[Seq[(Long, String, Boolean, Array[Byte])]] = Seq(
      Seq((0L, "10.8.8.1", true, getReq(1, "a1")), (1000L, "10.8.8.2", true, getReq(5, "b5")),
        (2000L, "10.8.8.3", true, openScanReq), (2005L, "10.8.8.3", false, openScanRes)),
      Seq((60000L, "10.8.8.2", true, getReq(6, "b6")), (100000L, "10.8.8.4", true, splitA)),
      Seq((100001L, "10.8.8.4", true, splitB), (120000L, "10.8.8.2", false, res(5)),
        (125000L, "10.8.8.1", true, getReq(2, "a2"))),
      Seq((126000L, "10.8.8.1", false, res(1)), (130000L, "10.8.8.3", true, getReq(31, "c")),
        (130000L, "10.8.8.2", false, res(6)), (131000L, "10.8.8.4", false, res(40))),
      Seq((200000L, "10.8.8.3", true, nextRows), (200000L, "10.8.8.1", false, res(2))))
    val dir = Path.of(TestSpark.tempDir("graft_rotation_parity"))
    val mtime0 = System.currentTimeMillis() - 60000L
    files.zipWithIndex.foreach { case (recs, i) =>
      val w = new PcapFile.Writer
      recs.foreach { case (dt, client, inbound, payload) =>
        val eth =
          if (inbound) LinkDecode.encode(client, 42000, SyntheticTraffic.Server, 16020, payload)
          else LinkDecode.encode(SyntheticTraffic.Server, 16020, client, 42000, payload)
        w.record((T0 + dt) * 1000L, eth)
      }
      val f: Path = dir.resolve(f"rot-$i%02d.pcap")
      Files.write(f, w.toBytes)
      Files.setLastModifiedTime(f, FileTime.fromMillis(mtime0 + i * 1000L))
    }
    def ordered(rs: Seq[RecordInfo]): Seq[RecordInfo] =
      rs.sortBy(r => (r.client, r.ts, r.inbound, r.call_id))

    val batch = ordered(Inspector.records(s, dir.toString).collect().toSeq)
    def find(client: String, inbound: Boolean, callId: Int): RecordInfo =
      batch.find(r => r.client == client && r.inbound == inbound && r.call_id == callId).get
    assert(batch.size === 14)
    assert((find("10.8.8.1", false, 1).method, find("10.8.8.1", false, 1).elapsed) === (("unknown", None)))
    assert(find("10.8.8.1", false, 2).elapsed === Some(75000L))
    assert(find("10.8.8.2", false, 5).elapsed === Some(119000L))
    assert(find("10.8.8.2", false, 6).elapsed === Some(70000L))
    assert(find("10.8.8.3", true, 33).table === None) // the leaked scanner expired
    assert(find("10.8.8.4", true, 40).row === Some("d" * 400))
    assert(find("10.8.8.4", false, 40).elapsed === Some(30999L)) // from the completing half

    for (perTrigger <- Seq(Some(1), Some(2), None)) {
      val name = s"rotation_parity_${perTrigger.getOrElse(0)}"
      val query = InspectorStream
        .recordsFromPcapDir(s, dir.toString, withIdleTimeout = false,
          maxFilesPerTrigger = perTrigger)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(query.awaitTermination(120000), "AvailableNow replay must terminate")
      import graft.inspector.RecordEncoders._
      val streamed = ordered(s.table(name).as[RecordInfo].collect().toSeq)
      assert(streamed === batch, s"maxFilesPerTrigger = $perTrigger")
    }
  }

  test("pcap-dir file source: rotated files processed incrementally, state crosses files") {
    val s = spark
    import java.nio.file.{Files, Paths}
    val srcDir = Paths.get(TestSpark.tempDir("graft_stream_pcap"))
    val pcaps = Paths.get(SyntheticTraffic.ensurePcapDir())
    val query = InspectorStream
      .recordsFromPcapDir(s, srcDir.toString, withIdleTimeout = false)
      .writeStream.format("memory").queryName("pcap_dir_records")
      .outputMode("append").start()
    try {
      // "rotate" the capture files in one at a time
      Files.copy(pcaps.resolve("capture-00001.pcap"), srcDir.resolve("c1.pcap"))
      query.processAllAvailable()
      val afterFirst = s.table("pcap_dir_records").count()
      assert(afterFirst === 22L) // conn A requests+responses
      Files.copy(pcaps.resolve("capture-00002.pcap"), srcDir.resolve("c2.pcap"))
      query.processAllAvailable()
      assert(s.table("pcap_dir_records").count() ===
        (SyntheticTraffic.ExpectedRequests + SyntheticTraffic.ExpectedResponses).toLong)
    } finally query.stop()
  }

  test("watermarked windowed aggregation over the streaming records") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ms = MemoryStream[KeyedSegment]
    // per-10s-window method counts with a 30 s watermark — the streaming
    // equivalent of q01 over live traffic
    val windowed = InspectorStream.records(ms.toDS(), withIdleTimeout = false)
      .toDF()
      .select(org.apache.spark.sql.functions.timestamp_millis(col("ts")).as("event_time"),
        col("method"))
      .withWatermark("event_time", "30 seconds")
      .groupBy(
        org.apache.spark.sql.functions.window(col("event_time"), "10 seconds"),
        col("method"))
      .count()
    val query = windowed.writeStream.format("memory")
      .queryName("windowed_methods").outputMode("complete").start()
    try {
      ms.addData(allSegments)
      query.processAllAvailable()
      val counts = s.table("windowed_methods")
        .select(col("method"), col("count")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
        .view.mapValues(_.map(_._2).sum).toMap
      assert(counts("get") === 8L)   // 4 requests + 4 responses
      assert(counts("multi") === 2L) // batch-3 multi req + res
    } finally query.stop()
  }

  // --- bounded-run controls (reference -c/-d, core.clj:51-56) ------------

  test("bounded replay: maxFilesPerTrigger + AvailableNow terminates after the dir") {
    val s = spark
    import java.nio.file.{Files, Paths}
    val srcDir = Paths.get(TestSpark.tempDir("graft_bounded_replay"))
    val pcaps = Paths.get(SyntheticTraffic.ensurePcapDir())
    Files.copy(pcaps.resolve("capture-00001.pcap"), srcDir.resolve("c1.pcap"))
    Files.copy(pcaps.resolve("capture-00002.pcap"), srcDir.resolve("c2.pcap"))
    val query = InspectorStream
      .recordsFromPcapDir(s, srcDir.toString, withIdleTimeout = false,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("bounded_replay")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(query.awaitTermination(120000), "AvailableNow replay must terminate")
    assert(s.table("bounded_replay").count() ===
      (SyntheticTraffic.ExpectedRequests + SyntheticTraffic.ExpectedResponses).toLong)
    // one file per micro-batch: the two files arrive in separate batches
    assert(query.recentProgress.count(_.numInputRows > 0) >= 2)
  }

  test("checkpoint restart: reassembly + correlation state survive a stop/start") {
    checkpointRestartRoundTrip()
  }

  test("checkpoint restart on the RocksDB state store provider (off-heap state option)") {
    // same envelope round-trip, but through per-partition RocksDB
    // instances — the documented off-heap option for fleet-scale
    // connection counts (InspectorStream.RocksDbStateStoreProvider)
    val key = InspectorStream.StateStoreProviderKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, InspectorStream.RocksDbStateStoreProvider)
    try checkpointRestartRoundTrip()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def checkpointRestartRoundTrip(): Unit = {
    // the StateEnvelope exists for exactly this path, but only a REAL
    // stop → new-query-from-checkpoint cycle proves the snapshot
    // round-trips through the state store: a request frame is split
    // across two capture files, and the second file arrives only after
    // the first query instance has terminated
    val s = spark
    import java.nio.file.Files
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.pcap.{LinkDecode, PcapFile}
    import graft.proto.ProtoWire.writer
    val src = java.nio.file.Path.of(TestSpark.tempDir("graft_ckpt_src"))
    val ckpt = TestSpark.tempDir("graft_ckpt_state")
    val outDir = TestSpark.tempDir("graft_ckpt_out")
    val rowKey = "r" * 400
    val reqBody = writer.varint(1, 9L).string(3, "Get").bool(4, true).toDelimitedBytes ++
      writer.msg(1, writer.varint(1, 1L)
          .bytes(2, SyntheticTraffic.regionName("tckpt").getBytes(UTF_8)))
        .msg(2, writer.bytes(1, rowKey.getBytes(UTF_8))).toDelimitedBytes
    val resBody = writer.varint(1, 9L).toDelimitedBytes ++
      writer.msg(1, writer.varint(2, 1L)).toDelimitedBytes
    def frame(body: Array[Byte]): Array[Byte] =
      Array[Byte]((body.length >>> 24).toByte, (body.length >>> 16).toByte,
        (body.length >>> 8).toByte, body.length.toByte) ++ body
    val (reqA, reqB) = frame(reqBody).splitAt(frame(reqBody).length / 2)
    def pcap(recs: (Long, Boolean, Array[Byte])*): Array[Byte] = {
      val w = new PcapFile.Writer
      recs.foreach { case (ts, inbound, payload) =>
        val fr =
          if (inbound) LinkDecode.encode("10.9.9.1", 41000, "10.9.9.9", 16020, payload)
          else LinkDecode.encode("10.9.9.9", 16020, "10.9.9.1", 41000, payload)
        w.record(ts * 1000L, fr)
      }
      w.toBytes
    }
    def runOnce(): Unit = {
      val q = InspectorStream
        .recordsFromPcapDir(s, src.toString, withIdleTimeout = false)
        .toDF()
        .select(col("ts"), col("client"), col("call_id"), col("method"),
          col("row"), col("inbound"), col("elapsed"))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow run must terminate")
    }
    Files.write(src.resolve("c1.pcap"), pcap((1000L, true, reqA)))
    runOnce() // half a frame: nothing emitted, buffered bytes checkpointed
    Files.write(src.resolve("c2.pcap"),
      pcap((1005L, true, reqB), (1010L, false, frame(resBody))))
    runOnce() // NEW query instance restores the connection from the checkpoint
    val rows = s.read.parquet(outDir).collect()
    assert(rows.length === 2, rows.mkString("; "))
    val req = rows.find(_.getAs[Boolean]("inbound")).get
    assert(req.getAs[String]("row") === rowKey) // reassembled ACROSS the restart
    assert(req.getAs[String]("method") === "get")
    assert(req.getAs[Long]("ts") === 1005L) // completes at the 2nd segment
    val res = rows.find(!_.getAs[Boolean]("inbound")).get
    assert(res.getAs[Long]("elapsed") === 5L) // correlation state survived too
  }

  test("record cap (-c streaming form): tracker reports per trigger, awaitCapped stops at the cap") {
    val s = spark
    import java.nio.file.{Files, Paths}
    val srcDir = Paths.get(TestSpark.tempDir("graft_record_cap"))
    val pcaps = Paths.get(SyntheticTraffic.ensurePcapDir())
    Files.copy(pcaps.resolve("capture-00001.pcap"), srcDir.resolve("c1.pcap"))
    Files.copy(pcaps.resolve("capture-00002.pcap"), srcDir.resolve("c2.pcap"))
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val tracker = new InspectorStream.ProgressTracker("record_cap",
      (_, n, total) => progress.add((n, total)))
    s.streams.addListener(tracker)
    try {
      // a CONTINUOUS query (no AvailableNow): after draining the dir it
      // would wait for new files forever — only the cap ends the run
      val query = InspectorStream
        .recordsFromPcapDir(s, srcDir.toString, withIdleTimeout = false,
          maxFilesPerTrigger = Some(1))
        .writeStream.format("memory").queryName("record_cap")
        .outputMode("append").start()
      val t0 = System.nanoTime()
      InspectorStream.awaitCapped(query, tracker, cap = 5L,
        durationMs = Some(120000L))
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(!query.isActive)
      assert(tracker.total >= 5L, s"cap never reached: ${tracker.total}")
      assert(elapsedMs < 60000L, s"stopped by duration backstop, not the cap")
      // per-trigger reporting fired with a growing cumulative count
      val seen = progress.toArray(Array.empty[(Long, Long)])
      assert(seen.nonEmpty)
      assert(seen.map(_._2).toSeq === seen.map(_._2).toSeq.sorted)
    } finally s.streams.removeListener(tracker)
  }

  test("awaitCapped with no cap stops a continuous query at its budget") {
    val s = spark
    val srcDir = TestSpark.tempDir("graft_duration_bound")
    val query = InspectorStream
      .recordsFromPcapDir(s, srcDir, withIdleTimeout = false)
      .writeStream.format("memory").queryName("duration_bound")
      .outputMode("append").start()
    InspectorStream.awaitCapped(query,
      new InspectorStream.ProgressTracker("duration_bound"), Long.MaxValue,
      durationMs = Some(1500L))
    assert(!query.isActive)
  }

  test("live -k trigger: an idle query with the idle timeout armed runs at most one batch per interval") {
    // the CLI's live query shape: idle timeout armed (recordsFromPcapDir's
    // default) on the trigger Main.runKafka starts it with; on Spark's
    // default trigger this drained directory ran dozens of empty batches
    val s = spark
    import java.nio.file.{Files, Paths}
    val srcDir = Paths.get(TestSpark.tempDir("graft_idle_src"))
    val ckpt = Paths.get(TestSpark.tempDir("graft_idle_ckpt"))
    Files.copy(Paths.get(SyntheticTraffic.ensurePcapDir()).resolve("capture-00001.pcap"),
      srcDir.resolve("c1.pcap"))
    val query = InspectorStream.recordsFromPcapDir(s, srcDir.toString).toDF()
      .writeStream.format("noop").queryName("idle_trigger")
      .option("checkpointLocation", ckpt.toString)
      .trigger(graft.Main.kafkaTrigger(capped = false))
      .start()
    def batches(): Int = Option(ckpt.resolve("commits").toFile.list())
      .fold(0)(_.count(n => !n.startsWith(".")))
    try {
      // processAllAvailable would never return: with the idle timeout
      // armed every trigger runs a batch. The first batch drains the
      // file, so what follows its commit is idle.
      def drained = query.recentProgress.exists(_.numInputRows > 0)
      val deadline = System.nanoTime() + 120000000000L
      while (!drained && query.isActive && System.nanoTime() < deadline) Thread.sleep(50)
      assert(drained, "the first batch never processed the capture file")
      val windowMs = 12000L
      val before = batches()
      Thread.sleep(windowMs)
      val idle = batches() - before
      assert(idle <= windowMs / graft.Main.LiveTriggerMs + 1,
        s"$idle batches in an idle ${windowMs / 1000} s window")
    } finally query.stop()
  }
}
