package graft.inspector

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end pipeline spec over the synthetic capture files: pcap bytes →
  * link decode → reassembly → RPC decode → correlation → shaping → the
  * 4-table SQL surface.
  */
class InspectorSpec extends SparkSpec {

  private lazy val dir = SyntheticTraffic.ensurePcapDir()
  private lazy val recs = Inspector.records(spark, dir).cache()
  private lazy val requests = Inspector.requests(recs).cache()
  private lazy val responses = Inspector.responses(recs).cache()

  private def reqRow(callId: Int, client: String = "10.0.0.1"): Row =
    requests.filter(col("call_id") === callId && col("client") === client)
      .collect()(0)

  private def resRow(callId: Int, client: String = "10.0.0.1"): Row =
    responses.filter(col("call_id") === callId && col("client") === client)
      .collect()(0)

  test("q20 packets: every data-carrying segment decoded") {
    assert(Inspector.packets(spark, dir).count() === 30) // 22 + 6 + 2 noise
  }

  test("IPv6 client end to end: request decodes and correlates") {
    import graft.pcap.{LinkDecode, PcapFile}
    import graft.proto.ProtoWire.writer
    val v6client = "2001:db8:0:0:0:0:0:77"
    val header = writer.varint(1, 5L).string(3, "Get").bool(4, true)
    val get = writer.msg(1, writer.varint(1, 1L)
      .bytes(2, SyntheticTraffic.regionName("t6").getBytes("UTF-8")))
      .msg(2, writer.bytes(1, "v6row".getBytes("UTF-8")))
    val body = header.toDelimitedBytes ++ get.toDelimitedBytes
    val req = Array[Byte]((body.length >>> 24).toByte, (body.length >>> 16).toByte,
      (body.length >>> 8).toByte, body.length.toByte) ++ body
    val resBody = writer.varint(1, 5L).toDelimitedBytes ++
      writer.msg(1, writer.varint(2, 1L)).toDelimitedBytes
    val res = Array[Byte]((resBody.length >>> 24).toByte, (resBody.length >>> 16).toByte,
      (resBody.length >>> 8).toByte, resBody.length.toByte) ++ resBody
    val srv6 = "fd00:0:0:0:0:0:0:63"
    val pcap = (new PcapFile.Writer)
      .record(1000000L, LinkDecode.encode6(v6client, 42000, srv6, 16020, req))
      .record(2000000L, LinkDecode.encode6(srv6, 16020, v6client, 42000, res))
      .toBytes
    val d = java.nio.file.Paths.get(graft.TestSpark.tempDir("graft_v6"))
    java.nio.file.Files.write(d.resolve("v6.pcap"), pcap)
    val recs6 = Inspector.records(spark, d.toString)
    val rq = Inspector.requests(recs6).collect()
    assert(rq.length === 1)
    assert(rq(0).getAs[String]("client") === v6client)
    assert(rq(0).getAs[String]("method") === "get")
    assert(rq(0).getAs[String]("row") === "v6row")
    val rs = Inspector.responses(recs6).collect()
    assert(rs.length === 1 && rs(0).getAs[Long]("elapsed") === 1000L)
  }

  test("header-only error response reaches the responses table") {
    val r = resRow(11)
    assert(r.getAs[String]("error") ===
      "org.apache.hadoop.hbase.NotServingRegionException")
    assert(r.getAs[String]("method") === "get")
    assert(r.getAs[Long]("elapsed") === 2L)
  }

  test("record counts match the synthetic traffic") {
    assert(requests.count().toInt === SyntheticTraffic.ExpectedRequests)
    assert(responses.count().toInt === SyntheticTraffic.ExpectedResponses)
  }

  test("pipeline output equals the hand-derived oracle tables (q20-q22)") {
    // exactly what the driver's DuckDB compare sees: pipeline vs the
    // independently-derived expected parquet written by ensureFixtures
    val fixDir = SyntheticTraffic.ensureFixtures(spark)
    val parent = java.nio.file.Paths.get(fixDir).getParent
    def same(got: org.apache.spark.sql.DataFrame, expName: String): Unit = {
      val exp = spark.read.parquet(s"$parent/$expName")
      assert(got.schema.map(f => (f.name, f.dataType)) ===
        exp.schema.map(f => (f.name, f.dataType)), expName)
      val extra = got.exceptAll(exp).count()
      val missing = exp.exceptAll(got).count()
      assert(extra === 0L && missing === 0L,
        s"$expName: $extra unexpected, $missing missing")
    }
    same(requests.withColumn("ts", unix_millis(col("ts"))), "expected_requests")
    same(responses.withColumn("ts", unix_millis(col("ts"))), "expected_responses")
    same(Inspector.packets(spark, fixDir), "expected_packets")
    same(Inspector.actionsTable(recs), "expected_actions")
    same(Inspector.resultsTable(recs), "expected_results")
  }

  test("get request/response with elapsed") {
    val rq = reqRow(1)
    assert(rq.getAs[String]("method") === "get")
    assert(rq.getAs[String]("table") === "tget")
    assert(rq.getAs[String]("region") === SyntheticTraffic.encodedRegion("tget"))
    assert(rq.getAs[String]("row") === "row1")
    assert(rq.getAs[Int]("cells") === 2) // two qualifiers
    val rs = resRow(1)
    assert(rs.getAs[Long]("elapsed") === 5L)
    assert(rs.getAs[Int]("cells") === 4) // 2 cells + 2 associated
    assert(rs.getAs[String]("error") === null)
  }

  test("scan lifecycle: next-rows and close inherit table/region from open") {
    val open = reqRow(2)
    assert(open.getAs[String]("method") === "open-scanner")
    assert(open.getAs[String]("row") === "aaa")
    assert(open.getAs[String]("stoprow") === "zzz")
    for (callId <- Seq(3, 4)) {
      val r = reqRow(callId)
      assert(r.getAs[String]("table") === "tscan", s"call $callId")
      assert(r.getAs[String]("region") === SyntheticTraffic.encodedRegion("tscan"))
    }
    assert(reqRow(3).getAs[String]("method") === "next-rows")
    assert(reqRow(4).getAs[String]("method") === "close-scanner")
    assert(resRow(3).getAs[Int]("cells") === 15) // 10 + 5
  }

  test("mutate: durability, cells; header-level error on check-and-put") {
    val put = reqRow(5)
    assert(put.getAs[String]("method") === "put")
    assert(put.getAs[String]("durability") === "sync_wal")
    assert(put.getAs[Int]("cells") === 3) // 2 qv + 1 associated
    assert(reqRow(8).getAs[String]("method") === "check-and-put")
    assert(resRow(8).getAs[String]("error") ===
      "org.apache.hadoop.hbase.exceptions.FailedSanityCheckException")
  }

  test("multi: batch, summed cells, child rows with per-action error") {
    val rq = reqRow(6)
    assert(rq.getAs[Int]("batch") === 3)
    assert(rq.getAs[Int]("cells") === 3) // 2 (put) + 1 (delete)
    assert(rq.getAs[String]("method") === "multi")
    assert(rq.getAs[String]("table") === "t1") // first action's table

    val acts = Inspector.actionsTable(recs)
      .filter(col("call_id") === 6).orderBy(col("row")).collect()
    assert(acts.map(_.getAs[String]("method")).toSeq === Seq("delete", "get", "put"))
    assert(acts.forall(_.getAs[String]("client") == "10.0.0.1"))

    val ress = Inspector.resultsTable(recs).filter(col("call_id") === 6).collect()
    assert(ress.length === 3)
    assert(ress.count(_.getAs[String]("error") == "org.foo.PerActionError") === 1)
    assert(resRow(6).getAs[Int]("cells") === 3) // 1 + 2 response-side
  }

  test("single-action multi merged into parent, no child rows") {
    val rq = reqRow(7)
    assert(rq.getAs[String]("method") === "put") // merged
    assert(rq.getAs[Int]("batch") === 1)
    assert(rq.getAs[String]("row") === "solo")
    assert(Inspector.actionsTable(recs).filter(col("call_id") === 7).count() === 0)
  }

  test("split frame reassembled; coalesced frames both decoded") {
    val big = reqRow(1, client = "10.0.0.2")
    assert(big.getAs[String]("row") === "k" * 600)
    assert(reqRow(2, "10.0.0.2").getAs[String]("method") === "get")
    assert(reqRow(3, "10.0.0.2").getAs[String]("method") === "put")
    assert(resRow(2, "10.0.0.2").getAs[Long]("elapsed") === 5L)
  }

  test("unmatched response surfaces as unknown; noise produces no records") {
    val unk = resRow(99, "10.0.0.2")
    assert(unk.getAs[String]("method") === "unknown")
    assert(unk.isNullAt(unk.fieldIndex("elapsed")))
    assert(recs.filter(col("client").isin("10.0.0.3", "10.0.0.4")).count() === 0)
  }

  test("gzipped captures decode identically through the batch pipeline") {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(dir).resolve("capture-00001.pcap")
    val gzDir = java.nio.file.Paths.get(graft.TestSpark.tempDir("graft_gz"))
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(Files.readAllBytes(src)); g.close()
    Files.write(gzDir.resolve("capture-00001.pcap.gz"), bos.toByteArray)
    val recs = Inspector.records(spark, gzDir.toString)
    assert(recs.count() === 22L) // conn A requests + responses
  }

  test("bucketed tables: request-response join runs exchange-free") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the auto heuristic can fall back to a non-bucketed scan on tiny
    // tables; force the bucketed read so the property is observable
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      Inspector.saveTables(spark, dir, "hpi", buckets = 4)
      // per-connection aggregation on each side + join, all on the bucket
      // key: zero exchanges anywhere in the plan
      val reqCounts = spark.table("hpi_requests")
        .groupBy(col("client"), col("port")).agg(count(lit(1)).as("n_req"))
      val resCounts = spark.table("hpi_responses")
        .groupBy(col("client"), col("port")).agg(count(lit(1)).as("n_res"))
      val joined = reqCounts.join(resCounts, Seq("client", "port"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan) // co-located by bucketing
      val rows = joined.collect()
        .map(r => (r.getString(0), (r.getLong(2), r.getLong(3)))).toMap
      assert(rows("10.0.0.1") === ((11L, 11L)))
      assert(rows("10.0.0.2") === ((3L, 4L)))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    }
  }

  test("SQL surface: 4 temp views queryable via spark.sql") {
    Inspector.registerViews(spark, dir)
    val methods = spark.sql(
      "SELECT method, count(*) AS n FROM requests GROUP BY method ORDER BY method")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(methods("get") === 4L)
    assert(methods("multi") === 1L)
    val joined = spark.sql(
      """SELECT r.method, s.elapsed FROM requests r
        |JOIN responses s ON r.client = s.client AND r.port = s.port
        |  AND r.call_id = s.call_id
        |WHERE s.elapsed IS NOT NULL""".stripMargin)
    assert(joined.count() >= 12)
    assert(spark.sql("SELECT count(*) FROM actions").collect()(0).getLong(0) === 3L)
    assert(spark.sql("SELECT count(*) FROM results").collect()(0).getLong(0) === 3L)
  }

  test("saveTables and a capped registerViews share one records run") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val nFiles = spark.read.format("binaryFile").load(dir).count()
    // capture paths read by file scans: one row per capture file opened
    val scanStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val pathsRead = new java.util.concurrent.atomic.LongAdder
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (scanStages.contains(e.stageId) && e.taskMetrics != null)
          pathsRead.add(e.taskMetrics.inputMetrics.recordsRead)
    }
    val persisted = sc.getPersistentRDDs.keySet
    sc.addSparkListener(l)
    val saved =
      try Inspector.saveTables(spark, dir, "share", buckets = 2)
      finally {
        org.apache.spark.graft.TestBridge.waitUntilListenerBusEmpty(sc)
        sc.removeSparkListener(l)
      }
    assert(pathsRead.sum() === nFiles, "each capture file read once for the 4 tables")
    assert(sc.getPersistentRDDs.keySet === persisted, "saveTables released what it held")
    assert(spark.table("share_requests").count() === SyntheticTraffic.ExpectedRequests)
    saved.foreach(t => spark.sql(s"DROP TABLE $t"))

    val n = 7
    Inspector.registerViews(spark, dir, maxRecords = Some(n))
    def one(sql: String): Long = spark.sql(sql).collect()(0).getLong(0)
    assert(one("SELECT count(*) FROM requests") +
      one("SELECT count(*) FROM responses") === n)
    val keys = """SELECT client, port, call_id, 'q' FROM requests
                 |UNION ALL SELECT client, port, call_id, 's' FROM responses
                 |ORDER BY 1, 2, 3, 4""".stripMargin
    val first = spark.sql(keys).collect().toSeq
    assert(first.size === n)
    assert(spark.sql(keys).collect().toSeq === first, "a later statement saw other records")
  }
}
