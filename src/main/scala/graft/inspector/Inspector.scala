package graft.inspector

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.pcap.{LinkDecode, PcapFile}

/** Batch packet→record pipeline: pcap files → typed TCP segments →
  * per-connection reassembly/decode/correlation → the reference's 4-table
  * surface (reference: core.clj read-pcap-file + process-hbase-packet +
  * send!; sink/db.clj:8-37 schema).
  *
  * Scale posture (100 TB of rotated capture files):
  *   - one pcap file = one input task (`binaryFile` source, flatMap per
  *     file); no driver-side byte handling;
  *   - the only shuffle moves segments to their `(client, port)` owner;
  *     `sortWithinPartitions` gives each connection an ordered run, and a
  *     single `mapPartitions` pass walks many connections per task with
  *     O(connection-buffer) memory (the reference's own state-cap bounds);
  *   - everything downstream of `records` is plain DataFrame work that
  *     Catalyst optimizes (the 4 views are projections of one cached
  *     dataset, not four pipeline replays).
  */
object Inspector {

  /** Default RegionServer ports (reference core.clj:65-67 hbase-ports). */
  val HbasePorts: Set[Int] = Set(16020, 60020)

  /** One capture file (pcap / pcapng / either gzipped) → decoded,
    * client-keyed TCP segments (shared by the batch source and the
    * streaming directory source). Each segment carries the file's
    * first-record ts (`fileTs`): rotation order across files, used to
    * resolve millisecond ties at file boundaries (see [[KeyedSegment]]).
    */
  def decodeFile(name: String, bytes: Array[Byte], ports: Set[Int]): Iterator[KeyedSegment] = {
    val recs = PcapFile.recordsAuto(name, bytes).buffered
    val fileTs = if (recs.hasNext) recs.head.tsMicros / 1000L else 0L
    recs.zipWithIndex.flatMap { case (r, i) =>
      LinkDecode.decode(r.data).flatMap { s =>
        val inbound = ports.contains(s.dstPort)
        if (!inbound && !ports.contains(s.srcPort)) None
        else {
          val (client, cport, server) =
            if (inbound) (s.srcAddr, s.srcPort, s.dstAddr)
            else (s.dstAddr, s.dstPort, s.srcAddr)
          Some(KeyedSegment(client, cport, inbound, server,
            r.tsMicros / 1000L, fileTs, i.toLong, s.seq, s.payload))
        }
      }
    }
  }

  /** Capture files under `path` → decoded, client-keyed TCP segments. */
  def segments(spark: SparkSession, path: String,
               ports: Set[Int] = HbasePorts): Dataset[KeyedSegment] = {
    import RecordEncoders._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (name, bytes) => decodeFile(name, bytes, ports) }
  }

  /** Segments → shaped records: shuffle once on the connection key, order
    * each connection's run, walk the state machine per partition.
    */
  def records(segs: Dataset[KeyedSegment]): Dataset[RecordInfo] = {
    import RecordEncoders._
    segs
      .repartition(col("client"), col("port"))
      .sortWithinPartitions(col("client"), col("port"),
        col("ts"), col("fileTs"), col("order"))
      .mapPartitions { it =>
        var key: (String, Int) = null
        var tracker: ConnTracker = null
        it.flatMap { seg =>
          val k = (seg.client, seg.port)
          if (k != key) { key = k; tracker = new ConnTracker(seg.client, seg.port) }
          tracker.push(seg)
        }
      }
  }

  def records(spark: SparkSession, path: String,
              ports: Set[Int] = HbasePorts): Dataset[RecordInfo] =
    records(segments(spark, path, ports))

  // --- the 4-table surface (schema = reference sink/db.clj:8-37) ---------

  private def baseCols = Seq(
    timestamp_millis(col("ts")).as("ts"), col("client"), col("port"),
    col("call_id"), col("server"), col("method"), col("size"), col("batch"),
    col("table"), col("region"), col("row"), col("stoprow"), col("cells"),
    col("durability"))

  def requests(records: Dataset[RecordInfo]): DataFrame =
    records.filter(col("inbound")).select(baseCols: _*)

  def responses(records: Dataset[RecordInfo]): DataFrame =
    records.filter(!col("inbound"))
      .select(baseCols :+ col("error") :+ col("elapsed"): _*)

  def actionsTable(records: Dataset[RecordInfo]): DataFrame =
    records.filter(col("inbound"))
      .select(explode(col("actions")).as("a")).select(col("a.*")).drop("error")

  def resultsTable(records: Dataset[RecordInfo]): DataFrame =
    records.filter(!col("inbound"))
      .select(explode(col("results")).as("r")).select(col("r.*"))

  /** SQL surface: 4 temp views over one cached pipeline run + spark.sql
    * passthrough (reference sink/db.clj:101-113 shell/web — arbitrary SQL
    * over requests/responses/actions/results). `maxRecords` is the
    * reference's `-c` count cap (core.clj:51-53): a take-bound on the
    * record stream for "grab the first N and look" runs — which N is
    * processing-order-dependent, exactly like the reference's packet cap.
    */
  def registerViews(spark: SparkSession, path: String,
                    ports: Set[Int] = HbasePorts,
                    maxRecords: Option[Int] = None): Unit = {
    val all = records(spark, path, ports)
    val recs = maxRecords.fold(all)(n => all.limit(n)).cache()
    requests(recs).createOrReplaceTempView("requests")
    responses(recs).createOrReplaceTempView("responses")
    actionsTable(recs).createOrReplaceTempView("actions")
    resultsTable(recs).createOrReplaceTempView("results")
  }

  /** Persist the 4 tables bucketed by the join key — the Spark
    * equivalent of the reference's H2 index on (client, port, call_id)
    * (sink/db.clj:65-66): repeated request⋈response analytics over the
    * saved tables co-locate on the bucket key and skip the exchange.
    */
  def saveTables(spark: SparkSession, pcapPath: String, prefix: String,
                 buckets: Int = 32, ports: Set[Int] = HbasePorts,
                 maxRecords: Option[Int] = None): Unit = {
    val all = records(spark, pcapPath, ports)
    val recs = maxRecords.fold(all)(n => all.limit(n)).cache()
    Seq(
      "requests" -> requests(recs), "responses" -> responses(recs),
      "actions" -> actionsTable(recs), "results" -> resultsTable(recs))
      .foreach { case (name, df) =>
        // saveAsTable lowercases unquoted identifiers — build the leftover
        // path from the same casing or a stale dir slips past the check
        val table = s"${prefix}_$name".toLowerCase(java.util.Locale.ROOT)
        spark.sql(s"DROP TABLE IF EXISTS $table")
        // a crashed run can leave files with no catalog entry; managed
        // tables refuse to reuse the location. Resolve + delete via the
        // Hadoop FileSystem API so warehouse URIs beyond the local FS
        // (hdfs:/s3:/percent-encoded file:) are handled uniformly.
        val warehouse = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"))
        val leftover = new org.apache.hadoop.fs.Path(warehouse, table)
        val fs = leftover.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(leftover)) fs.delete(leftover, true)
        df.write.mode("overwrite")
          .bucketBy(buckets, "client", "port")
          .sortBy("client", "port", "call_id")
          .saveAsTable(table)
      }
    recs.unpersist()
  }

  /** Decoded packet view (reference pcap.clj packet->map), including the
    * raw TCP sequence number — the diagnostics surface for capture-order
    * questions (retransmits, same-ms bursts at rotation boundaries).
    */
  def packets(spark: SparkSession, path: String): DataFrame = {
    import RecordEncoders._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        PcapFile.recordsAuto(name, bytes).flatMap { r =>
          LinkDecode.decode(r.data).map(s =>
            (r.tsMicros / 1000L, s.srcAddr, s.srcPort, s.dstAddr, s.dstPort,
              s.seq, s.payload.length))
        }
      }
      .toDF("ts_ms", "src_addr", "src_port", "dst_addr", "dst_port", "seq", "length")
  }

  // --- driver-contract queries -------------------------------------------

  /** q20-q22 run the real pipeline over the synthetic captures; `ts` is
    * projected to epoch millis so both engines hash a BIGINT (the same
    * convention the A-queries use). [[SyntheticTraffic.ensureFixtures]]
    * also writes the oracle's expected tables as parquet.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_packets" -> ((s, _) =>
      packets(s, SyntheticTraffic.ensureFixtures(s))),
    "q21_inspector_requests" -> ((s, _) =>
      requests(records(s, SyntheticTraffic.ensureFixtures(s)))
        .withColumn("ts", unix_millis(col("ts")))),
    "q22_inspector_responses" -> ((s, _) =>
      responses(records(s, SyntheticTraffic.ensureFixtures(s)))
        .withColumn("ts", unix_millis(col("ts")))),
    "q23_inspector_actions" -> ((s, _) =>
      actionsTable(records(s, SyntheticTraffic.ensureFixtures(s)))),
    "q24_inspector_results" -> ((s, _) =>
      resultsTable(records(s, SyntheticTraffic.ensureFixtures(s)))))

  /** DuckDB side of the q20-q22 hash-compare: the HAND-DERIVED expected
    * tables ([[SyntheticTraffic.expectedRecords]]) — an independent
    * derivation of the same traffic, not the pipeline's own output.
    *
    * Ordering contract: the referenced parquet is written by
    * [[SyntheticTraffic.ensureFixtures]], which runs inside the paired
    * `queries` closures — the driver's Verify executes every query
    * BEFORE dumping oracle SQL, so the files exist when DuckDB reads
    * them. A flow that evaluates these statements without first running
    * the queries (or after clearing /tmp in between) must call
    * `ensureFixtures` itself.
    */
  def oracles: Map[String, String] = {
    val parent =
      java.nio.file.Paths.get(SyntheticTraffic.ensurePcapDir()).getParent
    Map(
      "q20_packets" ->
        s"SELECT * FROM read_parquet('$parent/expected_packets/*.parquet')",
      "q21_inspector_requests" ->
        s"SELECT * FROM read_parquet('$parent/expected_requests/*.parquet')",
      "q22_inspector_responses" ->
        s"SELECT * FROM read_parquet('$parent/expected_responses/*.parquet')",
      "q23_inspector_actions" ->
        s"SELECT * FROM read_parquet('$parent/expected_actions/*.parquet')",
      "q24_inspector_results" ->
        s"SELECT * FROM read_parquet('$parent/expected_results/*.parquet')")
  }
}
