package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.inspector.{ConnSnapshot, ConnTracker, Inspector, KeyedSegment, RecordEncoders, RecordInfo,
  StateEnvelope}
import graft.sources.FileRecords

/** Streaming packet→record pipeline (reference: core.clj:356-394
  * start-handler — the background loop over a packet channel — plus its
  * state hygiene: 120 s expiry, core.clj:69-72/285-297, and the memory
  * cap, core.clj:322-347).
  *
  * Spark form: segments keyed by connection → `flatMapGroupsWithState`
  * holding one [[ConnSnapshot]] per connection; each trigger restores the
  * connection, walks its segments with [[ConnTracker.run]] (the walk
  * batch uses too) and snapshots it back. State hygiene:
  *   - with `withIdleTimeout`, a connection idle for 120 s (the
  *     reference's state-expiration-ms) is dropped via the group-state
  *     timeout;
  *   - [[ConnTracker.run]] applies the per-connection bounds after each
  *     capture file, as batch does: entries older than 120 s relative to
  *     the newest segment so far expire, reassembly buffers above 64 MiB
  *     are dropped (per-key form of the reference's global 50%-heap cap —
  *     per-key is the bound that exists in a distributed setting), and at
  *     most 10,000 correlation/scan entries are kept, oldest dropped
  *     first. When the directory's file mtimes follow capture order, the
  *     records therefore equal batch's over the same files at every
  *     `maxFilesPerTrigger`.
  *
  * Checkpoint compatibility: the state schema is one flat
  * `(version int, payload binary)` row ([[StateEnvelope]]). Builds that
  * stored the envelope through a kryo encoder wrote a single `value
  * binary` column instead, so Spark's state-schema check refuses their
  * checkpoints at restart; restart such a query with a fresh checkpoint
  * directory.
  */
object InspectorStream {

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
    * [[awaitCapped]].
    */
  def segmentsFromPcapDir(spark: SparkSession, path: String,
                          ports: Set[Int] = Inspector.HbasePorts,
                          maxFilesPerTrigger: Option[Int] = None): Dataset[KeyedSegment] = {
    import RecordEncoders._
    // streaming sources require the binaryFile source's fixed schema stated
    val reader = spark.readStream.format("binaryFile").schema(BinaryFileFormat.schema)
    val files = maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
    FileRecords.read(files.load(path))((_, in) => Inspector.decodeFile(in, ports))
  }

  /** readStream pcap dir → shaped records, end to end. The file source
    * takes files oldest-modification-first, so when the files' mtimes
    * follow capture order (tcpdump's rotate-and-`mv` does) the records
    * equal [[Inspector.records]] over the same files.
    */
  def recordsFromPcapDir(spark: SparkSession, path: String,
                         withIdleTimeout: Boolean,
                         maxFilesPerTrigger: Option[Int] = None,
                         ports: Set[Int] = Inspector.HbasePorts): Dataset[RecordInfo] =
    records(segmentsFromPcapDir(spark, path, ports, maxFilesPerTrigger), withIdleTimeout)

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

  /** Reference `-c`/`-d` for a running query: block until the query stops
    * on its own (a failed query rethrows), the wall-clock budget (if any)
    * elapses, or the tracker's cumulative output reaches `cap`
    * (`Long.MaxValue` for no cap) — then stop it gracefully. Granularity
    * is one trigger (pair the cap with `maxFilesPerTrigger = 1` so it
    * reacts per capture file): the reference checks its `-c` counter per
    * packet; a micro-batch engine checks per trigger.
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
    * builds the exact invocation with the reference's settings: its BPF
    * expression (data-carrying TCP segments on the RegionServer ports),
    * the full 65535-byte snaplen, promiscuous mode (tcpdump's default),
    * and a gzip'd rotation every 60 s.
    *
    * In-progress files must NEVER be visible to the tailing source (it is
    * exactly-once per path: a torn read would be final, and a later rename
    * would re-ingest the same traffic under a new name). tcpdump therefore
    * writes into the hidden `.staging/` subdirectory — dot-prefixed paths
    * are invisible to Spark's file listing — and the `-G` post-rotate
    * command (`-z`) gzips the FINISHED file and atomically `mv`s it into
    * the watched directory.
    */
  def captureCommand(iface: String, dir: String,
                     ports: Set[Int] = Inspector.HbasePorts): String = {
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
    val tcpdump = Seq(s"-i ${shq(iface)}", "-s 65535", "-G 60", s"-z ${shq(rotate)}",
      s"-w ${shq(staging + "/capture-%s.pcap")}", shq(bpf)).mkString(" ")
    s"""mkdir -p ${shq(staging)} && cat > ${shq(rotate)} <<'GRAFT_ROTATE'
#!/bin/sh
gzip "$$1" && mv "$$1.gz" ${shq(dir + "/")}
GRAFT_ROTATE
chmod +x ${shq(rotate)} && tcpdump $tcpdump"""
  }

  /** POSIX single-quote: safe for any content including quotes/spaces/`$`. */
  private def shq(s: String): String = "'" + s.replace("'", "'\\''") + "'"

  /** `withIdleTimeout = true` (a live query) arms the per-connection
    * ProcessingTime timeout (120 s idle → state dropped). Spark then runs
    * another micro-batch after every batch, data or not: on the default
    * trigger a drained directory spins through back-to-back empty batches
    * (the CLI's live `-k` run pins [[graft.Main.LiveTriggerMs]]), and a
    * `Trigger.AvailableNow` query never finishes. Replays, benchmarks and
    * deterministic tests pass `false` and rely on the event-ts-relative
    * expiry [[ConnTracker.run]] applies after each capture file, which
    * runs either way.
    */
  def records(segments: Dataset[KeyedSegment],
              withIdleTimeout: Boolean): Dataset[RecordInfo] = {
    // The state row is the flat StateEnvelope (version int, payload
    // binary): the snapshot is already serialized inside it, and a product
    // encoder for the deeply nested ConnSnapshot itself would make
    // per-micro-batch analysis quadratic-slow.
    import RecordEncoders._
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
            val out = tracker.run(segs.toVector.sorted(KeyedSegment.CaptureOrder).iterator).toVector
            state.update(StateEnvelope.wrap(tracker.snapshot))
            if (withIdleTimeout) state.setTimeoutDuration(ConnTracker.StateTimeoutMs)
            out.iterator
          }
      }
  }
}
