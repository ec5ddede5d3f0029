package graft.inspector

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pcap.{LinkDecode, PcapFile}
import graft.proto.ProtoWire.writer

/** tcpdump rotates capture files mid-connection; the batch pipeline must
  * stitch a frame whose halves live in DIFFERENT files (ts-ordered walk
  * inside the connection's partition).
  */
class CrossFileSpec extends SparkSpec {

  test("a frame split across two rotated capture files reassembles") {
    val client = "10.7.7.7"; val port = 41000
    val header = writer.varint(1, 77L).string(3, "Get").bool(4, true)
    val get = writer.msg(1, writer.varint(1, 1L)
      .bytes(2, SyntheticTraffic.regionName("tsplit").getBytes("UTF-8")))
      .msg(2, writer.bytes(1, ("r" * 300).getBytes("UTF-8")))
    val body = header.toDelimitedBytes ++ get.toDelimitedBytes
    val frame = Array[Byte](
      (body.length >>> 24).toByte, (body.length >>> 16).toByte,
      (body.length >>> 8).toByte, body.length.toByte) ++ body
    val (half1, half2) = frame.splitAt(frame.length / 2)

    def pcap(ts: Long, payload: Array[Byte]): Array[Byte] =
      (new PcapFile.Writer).record(ts * 1000L,
        LinkDecode.encode(client, port, SyntheticTraffic.Server,
          SyntheticTraffic.Port, payload)).toBytes

    val dir = Paths.get(graft.TestSpark.tempDir("graft_crossfile"))
    Files.write(dir.resolve("rot-1.pcap"), pcap(1000L, half1))
    Files.write(dir.resolve("rot-2.pcap"), pcap(2000L, half2))

    val reqs = Inspector.requests(Inspector.records(spark, dir.toString))
    val rows = reqs.filter(col("client") === client).collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("method") === "get")
    assert(rows(0).getAs[String]("row") === "r" * 300)
    assert(rows(0).getAs[Int]("call_id") === 77)
  }

  test("identical-millisecond halves at the rotation boundary order by fileTs") {
    val client = "10.7.7.8"; val port = 41001
    def getFrame(callId: Int, row: String): Array[Byte] = {
      val header = writer.varint(1, callId.toLong).string(3, "Get").bool(4, true)
      val get = writer.msg(1, writer.varint(1, 1L)
        .bytes(2, SyntheticTraffic.regionName("tb").getBytes("UTF-8")))
        .msg(2, writer.bytes(1, row.getBytes("UTF-8")))
      val body = header.toDelimitedBytes ++ get.toDelimitedBytes
      Array[Byte](
        (body.length >>> 24).toByte, (body.length >>> 16).toByte,
        (body.length >>> 8).toByte, body.length.toByte) ++ body
    }
    def eth(payload: Array[Byte]): Array[Byte] =
      LinkDecode.encode(client, port, SyntheticTraffic.Server,
        SyntheticTraffic.Port, payload)

    // a sub-ms burst cut by rotation: both halves carry ts 2000 ms. The
    // earlier file also holds an earlier complete request, so its per-file
    // record index for the first half is 1 while the second half's index
    // in the NEXT file is 0 — a plain (ts, order) sort would put the
    // second half first and desync reassembly (round-3 verdict). fileTs
    // (first-record ts: 1000 vs 2000) restores rotation order.
    val (half1, half2) = getFrame(88, "x" * 200).splitAt(90)
    val file1 = (new PcapFile.Writer)
      .record(1000L * 1000L, eth(getFrame(87, "early")))
      .record(2000L * 1000L, eth(half1)).toBytes
    val file2 = (new PcapFile.Writer)
      .record(2000L * 1000L, eth(half2)).toBytes

    val dir = Paths.get(graft.TestSpark.tempDir("graft_msboundary"))
    Files.write(dir.resolve("rot-1.pcap"), file1)
    Files.write(dir.resolve("rot-2.pcap"), file2)

    val rows = Inspector.requests(Inspector.records(spark, dir.toString))
      .filter(col("client") === client).collect()
    assert(rows.map(_.getAs[Int]("call_id")).toSet === Set(87, 88))
    assert(rows.find(_.getAs[Int]("call_id") == 88).get
      .getAs[String]("row") === "x" * 200)
  }
}
