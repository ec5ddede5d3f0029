package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.inspector.{ConnSnapshot, ConnTracker, Inspector, KeyedSegment, RecordEncoders, RecordInfo,
  StateEnvelope}

/** Streaming packet→record pipeline (reference: core.clj:356-394
  * start-handler — the background loop over a packet channel — plus its
  * state hygiene: 120 s expiry, core.clj:69-72/285-297, and the memory
  * cap, core.clj:322-347).
  *
  * Spark form: segments keyed by connection → `flatMapGroupsWithState`
  * holding one [[ConnSnapshot]] per connection. State hygiene:
  *   - a connection idle for `timeoutMs` (default 120 s, the reference's
  *     state-expiration-ms) is dropped via the group-state timeout;
  *   - correlation entries older than `timeoutMs` relative to the newest
  *     segment are expired each batch;
  *   - reassembly buffers above `maxBufferBytes` are dropped (per-key form
  *     of the reference's global 50%-heap cap — per-key is the bound that
  *     exists in a distributed setting).
  */
object InspectorStream {

  val DefaultTimeoutMs: Long = 120000L
  val DefaultMaxBufferBytes: Long = 64L * 1024 * 1024
  /** Per-connection cap on correlation/scan entries (per-key form of
    * reference trim-state-by-memory: a bound that fires even when nothing
    * is old enough to expire).
    */
  val DefaultMaxStateEntries: Int = 10000

  /** RocksDB state store option: at RegionServer-fleet connection counts
    * the default HDFS-backed store keeps EVERY connection's
    * [[graft.inspector.ConnSnapshot]] on the executor heap — the
    * streaming analogue of the heap caps the batch side already
    * respects. Set BEFORE the query starts (the provider is read from
    * the session conf at query start and pinned into the checkpoint
    * lineage):
    * {{{
    * spark.conf.set(InspectorStream.StateStoreProviderKey,
    *                InspectorStream.RocksDbStateStoreProvider)
    * }}}
    * State then lives off-heap in per-partition RocksDB instances
    * (rocksdbjni ships with Spark) with the same exactly-once checkpoint
    * contract — InspectorStreamSpec proves the [[StateEnvelope]]
    * round-trips through a real stop/restart on this provider.
    */
  val StateStoreProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDbStateStoreProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The Spark-native form of the reference's live capture
    * (core.clj:422-444 read-net-interface): tcpdump rotates capture files
    * into a directory; the file streaming source picks each up exactly
    * once and the stateful pipeline continues across files. Raw NIC
    * capture itself is OS-level and stays outside Spark by design.
    *
    * Bounded runs (reference `-c`/`-d`, core.clj:51-56): pass
    * `maxFilesPerTrigger` to bound each micro-batch's intake, start the
    * query with `Trigger.AvailableNow` to replay the directory's current
    * contents and terminate, and/or stop after a wall-clock budget with
    * [[awaitBounded]].
    */
  def segmentsFromPcapDir(spark: SparkSession, path: String,
                          ports: Set[Int] = Inspector.HbasePorts,
                          maxFilesPerTrigger: Option[Int] = None): Dataset[KeyedSegment] = {
    import org.apache.spark.sql.types._
    import RecordEncoders._
    // the binaryFile source's fixed schema; streaming sources require it
    // stated explicitly
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val reader = spark.readStream.format("binaryFile").schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (name, bytes) => Inspector.decodeFile(name, bytes, ports) }
  }

  /** readStream pcap dir → shaped records, end to end. */
  def recordsFromPcapDir(spark: SparkSession, path: String,
                         timeoutMs: Long = DefaultTimeoutMs,
                         maxBufferBytes: Long = DefaultMaxBufferBytes,
                         withIdleTimeout: Boolean = true,
                         maxFilesPerTrigger: Option[Int] = None,
                         maxStateEntries: Int = DefaultMaxStateEntries,
                         ports: Set[Int] = Inspector.HbasePorts): Dataset[RecordInfo] =
    records(segmentsFromPcapDir(spark, path, ports, maxFilesPerTrigger),
      timeoutMs, maxBufferBytes, withIdleTimeout, maxStateEntries)

  /** Reference `-d` (duration) equivalent for a running query: block for at
    * most `durationMs`, then stop it gracefully if it has not terminated on
    * its own (an `AvailableNow` replay that finished early returns sooner).
    */
  def awaitBounded(query: org.apache.spark.sql.streaming.StreamingQuery,
                   durationMs: Long): Unit =
    if (!query.awaitTermination(durationMs)) query.stop()

  /** Per-trigger progress + cumulative output counter (reference `-c`
    * count cap and `-v` 1 s progress ticks, core.clj:47-63): accumulates
    * each completed trigger's sink output rows (records emitted; falls
    * back to input rows for sinks that don't report) and invokes `report`
    * per trigger. Matches queries BY NAME so it can be registered BEFORE
    * `start()` — registering after would race a fast first trigger.
    * The caller polls [[total]] and stops the query from its own thread
    * ([[awaitCapped]]): stopping from inside the listener bus would have
    * the bus thread wait on itself.
    */
  final class ProgressTracker(queryName: String,
      report: (Long, Long, Long) => Unit = (_, _, _) => ())
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val seen =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
    @volatile private var acc = 0L
    def total: Long = acc
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.name == queryName && seen.add(e.progress.batchId)) {
        val sinkRows = e.progress.sink.numOutputRows
        val n = if (sinkRows >= 0) sinkRows else e.progress.numInputRows
        acc += n
        report(e.progress.batchId, n, acc)
      }
  }

  /** Block until the query stops on its own, the wall-clock budget (if
    * any) elapses, or the tracker's cumulative output reaches `cap` —
    * then stop it gracefully. Granularity is one trigger (pair the cap
    * with `maxFilesPerTrigger = 1` so it reacts per capture file): the
    * reference checks its `-c` counter per packet; a micro-batch engine
    * checks per trigger.
    */
  def awaitCapped(query: org.apache.spark.sql.streaming.StreamingQuery,
                  tracker: ProgressTracker, cap: Long,
                  durationMs: Option[Long] = None): Unit = {
    val deadline = durationMs.map(ms => System.nanoTime() + ms * 1000000L)
    while (query.isActive && tracker.total < cap &&
        !deadline.exists(System.nanoTime() >= _))
      query.awaitTermination(100)
    if (query.isActive) query.stop()
  }

  /** The OS half of live capture. The reference opens the NIC in-process
    * (pcap.clj:16-33 live-handle: BPF filter, snaplen, promiscuous mode);
    * a distributed engine deliberately does not — tcpdump owns the NIC and
    * rotates files into the directory [[recordsFromPcapDir]] tails. This
    * builds the exact invocation with the same knobs: the reference's BPF
    * expression (data-carrying TCP segments on the RegionServer ports),
    * snaplen, promiscuous mode, gzip'd rotation.
    *
    * In-progress files must NEVER be visible to the tailing source (it is
    * exactly-once per path: a torn read would be final, and a later rename
    * would re-ingest the same traffic under a new name). tcpdump therefore
    * writes into the hidden `.staging/` subdirectory — dot-prefixed paths
    * are invisible to Spark's file listing — and the `-G` post-rotate
    * command (`-z`) gzips the FINISHED file and atomically `mv`s it into
    * the watched directory.
    */
  /** POSIX single-quote: safe for any content including quotes/spaces/`$`. */
  private def shq(s: String): String = "'" + s.replace("'", "'\\''") + "'"

  def captureCommand(iface: String, dir: String,
                     ports: Set[Int] = Inspector.HbasePorts,
                     snaplen: Int = 65535,
                     rotateSeconds: Int = 60,
                     promiscuous: Boolean = true,
                     gzip: Boolean = true): String = {
    // reference pcap.clj:24-27 filter: tcp, given ports, payload-carrying.
    // IPv4 branch = the reference's; the ip6 branch assumes the fixed
    // 40-byte header (classic BPF cannot walk extension headers — a
    // documented approximation: ext-header'd v6 segments are captured too,
    // the engine-side decode filters them).
    val portExpr = ports.toSeq.sorted.map(p => s"port $p").mkString(" or ")
    val bpf = s"tcp and ($portExpr) and " +
      "((((ip[2:2] - ((ip[0]&0xf)<<2)) - ((tcp[12]&0xf0)>>2)) != 0) or " +
      "(ip6 and ((ip6[4:2] - ((ip6[52]&0xf0)>>2)) != 0)))"
    val staging = s"$dir/.staging"
    val rotate = s"$staging/rotate.sh"
    // Heredoc with a quoted delimiter: the script body is written verbatim,
    // no nested-quote escaping; the destination dir is itself shq-embedded
    // so spaces/metacharacters in the path survive both write and run time.
    val rotateBody =
      if (gzip) s"""gzip "$$1" && mv "$$1.gz" ${shq(dir + "/")}"""
      else s"""mv "$$1" ${shq(dir + "/")}"""
    val flags = Seq(
      Some(s"-i ${shq(iface)}"),
      if (promiscuous) None else Some("-p"),
      Some(s"-s $snaplen"),
      Some(s"-G $rotateSeconds"),
      Some(s"-z ${shq(rotate)}"),
      Some(s"-w ${shq(staging + "/capture-%s.pcap")}")).flatten
    s"""mkdir -p ${shq(staging)} && cat > ${shq(rotate)} <<'GRAFT_ROTATE'
#!/bin/sh
$rotateBody
GRAFT_ROTATE
chmod +x ${shq(rotate)} && tcpdump ${flags.mkString(" ")} ${shq(bpf)}"""
  }

  /** `withIdleTimeout = true` (production) arms the per-connection
    * ProcessingTime timeout (120 s idle → state dropped). Note the engine
    * then schedules extra timeout-check micro-batches between data
    * arrivals; deterministic tests pass `false` and rely on the
    * event-ts-relative expiry (`expireBefore`), which runs either way.
    */
  def records(segments: Dataset[KeyedSegment],
              timeoutMs: Long = DefaultTimeoutMs,
              maxBufferBytes: Long = DefaultMaxBufferBytes,
              withIdleTimeout: Boolean = true,
              maxStateEntries: Int = DefaultMaxStateEntries): Dataset[RecordInfo] = {
    import RecordEncoders._
    // The state rides as kryo-serialized bytes (a product encoder for the
    // deeply nested ConnSnapshot would make per-micro-batch analysis
    // quadratic-slow), wrapped in the version-tagged StateEnvelope so an
    // incompatible checkpoint fails with an actionable message instead of
    // a raw kryo error; the envelope's own (Int, Array[Byte]) shape is
    // stable across builds.
    implicit val envelopeEncoder: org.apache.spark.sql.Encoder[StateEnvelope] =
      org.apache.spark.sql.Encoders.kryo[StateEnvelope]
    val timeoutConf =
      if (withIdleTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    segments
      .groupByKey(s => (s.client, s.port))
      .flatMapGroupsWithState[StateEnvelope, RecordInfo](
        OutputMode.Append, timeoutConf) {
        (key: (String, Int), segs: Iterator[KeyedSegment],
         state: GroupState[StateEnvelope]) =>
          if (withIdleTimeout && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val tracker = new ConnTracker(key._1, key._2)
            state.getOption.map(StateEnvelope.unwrap).foreach(tracker.restore)
            val ordered = segs.toVector.sortBy(s => (s.ts, s.fileTs, s.order))
            val out = ordered.flatMap(tracker.push)
            // expiry relative to the newest packet ts (the reference's
            // trim-state-expired uses capture time, not wall clock)
            ordered.lastOption.foreach(last =>
              tracker.expireBefore(last.ts - timeoutMs))
            if (tracker.bufferedBytes > maxBufferBytes) tracker.resetBuffers()
            tracker.trimToEntries(maxStateEntries)
            state.update(StateEnvelope.wrap(tracker.snapshot))
            if (withIdleTimeout) state.setTimeoutDuration(timeoutMs)
            out.iterator
          }
      }
  }
}
