package graft

import java.io.{BufferedReader, InputStreamReader, PrintStream}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.inspector.Inspector
import graft.streaming.{CaptureProcess, InspectorStream, KafkaSink}

/** CLI entry point — the reference's `-main` (core.clj:513-534) in Spark
  * form: read a directory of capture files, register the 4-table SQL
  * surface, then either run `-e` statements, serve an interactive SQL loop
  * over stdin (the reference's H2 shell, sink/db.clj:101-113), or stream
  * the records to Kafka (`-k`, sink/kafka.clj).
  *
  * {{{
  * sbt "runMain graft.Main CAPTURE_DIR [options]"
  *   -e SQL     run a statement and print it (repeatable); exit after
  *   -k SPEC    stream to Kafka instead: SERVERS/T1/T2 spec grammar
  *   -p PORTS   comma-separated RegionServer ports (default 16020,60020)
  *   -t DIR     checkpoint dir for -k (default: a temp dir)
  *   -d MS      wall-clock bound (reference -d): with -k, bounds the
  *              streaming run; with -i and no -k, capture for MS, stop
  *              the capture, THEN load and serve (core.clj:430-431)
  *   -c N       max records to process (reference -c packet cap,
  *              core.clj:51-53): batch modes take-bound the record
  *              stream; -k runs one file per trigger under an
  *              AvailableNow replay and stop once N records are emitted
  *   -o PREFIX  persist the 4 tables as bucketed+sorted catalog tables
  *              PREFIX_requests/_responses/_actions/_results (the H2
  *              persistence analogue, sink/db.clj:65-66: bucketed by the
  *              (client, port) connection key, sorted by call_id →
  *              exchange-free repeat analytics); exits after
  *   -i [IFACE] live capture: LAUNCH the staged tcpdump rotation
  *              in-process (the reference's read-net-interface,
  *              core.clj:422-444) feeding CAPTURE_DIR, then run the
  *              selected mode (interactive SQL, -e, or -k) against the
  *              growing directory; the capture is stopped when the run
  *              ends. With no IFACE, lists the JVM-visible devices and
  *              prompts for one (the reference's no-interface flow,
  *              core.clj:443-451)
  *   -n         with -i: print the capture command instead of running it
  *   -v         verbose: per-file load lines, decoded record counts,
  *              per-trigger streaming progress (reference -v +
  *              report-interval ticks, core.clj:60-62)
  *   -h         print usage and exit 0
  * }}}
  * With neither `-e` nor `-k`: interactive — one SQL statement per line
  * against requests/responses/actions/results; empty line or EOF quits
  * (the reference's "press enter to stop").
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = Sessions.tune(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-inspector")
      .config("spark.sql.shuffle.partitions", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try execute(spark, args,
        new BufferedReader(new InputStreamReader(System.in)), System.out)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Library version: the jar manifest's Implementation-Version (written
    * by `sbt package` from build.sbt's `version` — the single source of
    * truth), with a system-property fallback for class-directory runs
    * (sbt test/run), where no manifest backs the package.
    */
  def version: String =
    Option(getClass.getPackage)
      .flatMap(p => Option(p.getImplementationVersion))
      .orElse(sys.props.get("graft.version"))
      .getOrElse("unknown")

  private val Usage =
    """usage: graft.Main CAPTURE_DIR [-e SQL]... [-k SPEC] [-o PREFIX] [-p PORTS] [-t CKPT_DIR] [-d MS] [-c N] [-i [IFACE] [-n]] [-v] [-h] [--version]
      |  -e SQL     run a statement and print it (repeatable); exit after
      |  -k SPEC    stream records to Kafka (SERVERS/T1/T2[?k=v&...])
      |  -o PREFIX  persist the 4 tables as bucketed catalog tables; exit
      |  -p PORTS   comma-separated RegionServer ports (default 16020,60020)
      |  -t DIR     checkpoint dir for -k (default: a temp dir); Spark refuses
      |             to resume a live run's with -c, or a -c run's without
      |  -d MS      bound a -k run; with -i and no -k: capture MS then load
      |  -c N       max records to process (batch take-bound; -k: one file per
      |             trigger, stop at N records or once the dir is drained)
      |  -i [IFACE] launch staged tcpdump capture into CAPTURE_DIR first;
      |             with no IFACE: list the devices and prompt for one
      |  -n         with -i: print the capture command instead of running
      |  -v         verbose: per-file load lines + per-trigger progress
      |  -h         print this help and exit
      |  --version  print the library version and exit
      |with neither -e nor -k: interactive SQL over requests/responses/
      |actions/results (empty line or EOF quits)""".stripMargin

  /** Testable core; returns a process exit code. `capture` is the live
    * capture launcher seam (`(iface, dir, ports) => handle`) — the real
    * one spawns tcpdump; specs inject a fake.
    */
  def execute(spark: SparkSession, args: Array[String],
              in: BufferedReader, out: PrintStream,
              capture: (String, String, Set[Int]) => CaptureProcess.Handle =
                CaptureProcess.start(_, _, _),
              listIfs: () => Seq[(String, String)] =
                () => defaultInterfaces()): Int = {
    var dir: Option[String] = None
    var stmts = Vector.empty[String]
    var kafka: Option[String] = None
    var ports = Inspector.HbasePorts
    var ckpt: Option[String] = None
    var durationMs: Option[Long] = None
    var maxRecords: Option[Int] = None
    var iface: Option[String] = None
    var promptIface = false
    var save: Option[String] = None
    var dryRun = false
    var verbose = false
    var i = 0
    try {
      while (i < args.length) {
        args(i) match {
          case "-e" => stmts :+= args(i + 1); i += 2
          case "-k" => kafka = Some(args(i + 1)); i += 2
          case "-p" => ports = args(i + 1).split(',').map(_.trim.toInt).toSet; i += 2
          case "-t" => ckpt = Some(args(i + 1)); i += 2
          case "-d" => durationMs = Some(args(i + 1).toLong); i += 2
          case "-c" => maxRecords = Some(args(i + 1).toInt); i += 2
          case "-i" if i + 1 < args.length && !args(i + 1).startsWith("-") =>
            iface = Some(args(i + 1)); i += 2
          // bare -i (end of args or followed by another flag): the
          // reference's no-interface path lists the capture devices and
          // prompts for one (core.clj:443-451) instead of erroring
          case "-i" => promptIface = true; i += 1
          case "-o" => save = Some(args(i + 1)); i += 2
          case "-n" => dryRun = true; i += 1
          case "-v" => verbose = true; i += 1
          case "-h" => out.println(Usage); return 0
          case "--version" => out.println(s"graft $version"); return 0
          case flag if flag.startsWith("-") =>
            out.println(s"unknown option: $flag"); out.println(Usage); return 1
          case path => dir = Some(path); i += 1
        }
      }
    } catch {
      case _: ArrayIndexOutOfBoundsException | _: NumberFormatException =>
        out.println(Usage); return 1
    }
    if (maxRecords.exists(_ <= 0)) {
      out.println("-c requires a positive record count")
      out.println(Usage); return 1
    }
    if (durationMs.exists(_ <= 0)) {
      // mirror the -c check: a zero/negative -d with -i stops the capture
      // immediately (yet prints "stopped after N ms"), and with -k goes
      // straight into a zero budget — both silently useless (round-9 advice)
      out.println("-d requires a positive duration in milliseconds")
      out.println(Usage); return 1
    }
    if (dryRun && iface.isEmpty && !promptIface) {
      // a stray -n must not silently run the real thing the user thought
      // they were only previewing
      out.println("-n requires -i"); out.println(Usage); return 1
    }
    if (save.isDefined && (kafka.isDefined || stmts.nonEmpty)) {
      // same silent-wrong-mode class as stray -n: don't pick one and
      // discard what the user also asked for
      out.println("-o cannot be combined with -k or -e")
      out.println(Usage); return 1
    }
    if (durationMs.isDefined && kafka.isEmpty && iface.isEmpty && !promptIface) {
      // -d bounds a -k stream or a -i capture; with neither, silently
      // running unbounded would betray the user's stated time box
      out.println("-d requires -k or -i")
      out.println(Usage); return 1
    }
    dir match {
      case None => out.println(Usage); 1
      case Some(d) =>
        // the device prompt runs only once every other argument has
        // validated — a user whose invocation is doomed anyway (missing
        // CAPTURE_DIR above) must not first answer an interactive
        // question, and a scripted run must not block on stdin for input
        // that can never lead to a run (round-9 review)
        if (promptIface) selectInterface(listIfs(), in, out) match {
          case Some(name) => iface = Some(name)
          case None       => return 1
        }
        runMode(spark, d, stmts, kafka, ports, ckpt, durationMs, maxRecords,
          iface, save, dryRun, verbose, in, out, capture)
    }
  }

  /** The mode dispatch behind [[execute]], once arguments are fully
    * resolved (interface prompt included).
    */
  private def runMode(spark: SparkSession, d: String, stmts: Vector[String],
                      kafka: Option[String], ports: Set[Int],
                      ckpt: Option[String], durationMs: Option[Long],
                      maxRecords: Option[Int], iface: Option[String],
                      save: Option[String], dryRun: Boolean, verbose: Boolean,
                      in: BufferedReader, out: PrintStream,
                      capture: (String, String, Set[Int]) => CaptureProcess.Handle): Int =
    (iface, dryRun) match {
      case (Some(ifc), true) =>
        out.println("run this to feed the capture directory, then re-run " +
          "graft.Main without -i (or with -k) against it:")
        out.println(InspectorStream.captureCommand(ifc, d, ports))
        0
      case _ =>
        val captureT0 = System.nanoTime()
        val handle = iface.map { ifc =>
          out.println(s"capturing $ifc -> $d (tcpdump staged rotation)")
          capture(ifc, d, ports)
        }
        // tcpdump reports no-such-interface / no-permission / no-binary
        // AFTER exec: give it a beat and surface an immediate death as a
        // run failure instead of a silently-empty stream.
        handle.flatMap(_.awaitExit(500)).filter(_ != 0) match {
          case Some(code) =>
            out.println(s"capture exited with code $code:")
            handle.foreach(h => out.println(h.logTail().trim))
            1
          case None =>
            // One close point for both the bounded path and the finally:
            // round-9 advice — the old finally repeated the idempotent
            // stop and printed "capture stopped" a second time, and the
            // bounded message reported the REQUESTED duration even when
            // the liveness wait had already overshot it. Reports the
            // ACTUAL capture window instead.
            var captureClosed = false
            def closeCapture(): Unit = handle.foreach { h =>
              if (!captureClosed) {
                captureClosed = true
                val actualMs = (System.nanoTime() - captureT0) / 1000000L
                val code = h.stop()
                out.println(s"capture stopped after $actualMs ms (exit $code)")
                if (verbose) {
                  // reference parity (core.clj:446-449 "%d packets
                  // received, %d dropped"): tcpdump prints its
                  // captured/received/dropped summary to the capture log
                  // on SIGTERM — surface it
                  val t = h.logTail(1024).trim
                  if (t.nonEmpty) t.linesIterator.foreach(l => out.println(s"[v] $l"))
                }
              }
            }
            // reference -d in non-Kafka modes (core.clj:430-431): capture
            // for DURATION, close the handle, THEN load/serve — the SQL
            // surface sees exactly what the bounded capture produced.
            // (-k keeps its own meaning: the stream runs WHILE capturing
            // and -d bounds the stream itself.)
            if (handle.isDefined && kafka.isEmpty && durationMs.isDefined) {
              // the bound is measured from capture START: the liveness
              // wait above already consumed up to 500 ms of it (a raw
              // sleep here would record for MS + 500 and misreport)
              val elapsedMs = (System.nanoTime() - captureT0) / 1000000L
              Thread.sleep(math.max(0L, durationMs.get - elapsedMs))
              closeCapture()
            }
            try {
              // reference -v progress: say what the load is about to read
              // (long directory loads are otherwise silent until done)
              if (verbose) listCaptureFiles(spark, d, out)
              if (save.isDefined)
                runSave(spark, d, save.get, ports, maxRecords, out)
              else if (kafka.isDefined)
                runKafka(spark, d, kafka.get, ports, ckpt, durationMs,
                  maxRecords, verbose, out)
              else runSql(spark, d, ports, stmts, maxRecords, verbose, in, out)
            } finally closeCapture()
        }
    }

  /** JVM-visible capture devices as (name, human description) — the seam
    * behind [[execute]]'s bare `-i` prompt. The real list comes from
    * `java.net.NetworkInterface`, the JVM-public equivalent of the
    * reference's pcap device listing (core.clj:443-451); specs inject a
    * fixed list.
    */
  def defaultInterfaces(): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    try java.net.NetworkInterface.getNetworkInterfaces.asScala.toSeq
      .sortBy(_.getIndex)
      .map(ni => ni.getName -> Option(ni.getDisplayName).getOrElse(""))
    catch { case NonFatal(_) => Seq.empty }
  }

  /** Bare `-i`: number the devices, prompt on `out`, read a 1-based
    * selection from `in` (the reference's choose-an-interface flow,
    * core.clj:443-451). None = no devices, EOF, or an invalid answer —
    * the caller exits 1 rather than capture on a guessed device.
    */
  private def selectInterface(ifs: Seq[(String, String)], in: BufferedReader,
                              out: PrintStream): Option[String] = {
    if (ifs.isEmpty) { out.println("no capture interfaces found"); return None }
    out.println("available interfaces:")
    ifs.zipWithIndex.foreach { case ((name, desc), idx) =>
      val extra = if (desc.nonEmpty && desc != name) s" ($desc)" else ""
      out.println(s"  ${idx + 1}: $name$extra")
    }
    out.print(s"choose interface [1-${ifs.length}]: ")
    out.flush()
    Option(in.readLine()).map(_.trim).filter(_.nonEmpty) match {
      case Some(line) =>
        line.toIntOption.filter(n => n >= 1 && n <= ifs.length) match {
          case Some(n) => Some(ifs(n - 1)._1)
          case None    => out.println(s"invalid selection: $line"); None
        }
      case None => out.println("no selection made"); None
    }
  }

  /** Trigger interval of a live `-k` run, well under tcpdump's 60 s
    * rotation and the 120 s idle timeout. With the timeout armed, Spark
    * runs a micro-batch after every batch, data or not, so on the default
    * trigger a drained capture dir spins through back-to-back empty
    * batches and checkpoint writes; a fixed interval bounds that.
    */
  val LiveTriggerMs = 10000L

  /** `-k`'s trigger and records, both from whether `-c` caps the run. A
    * capped run replays the directory one file per trigger, so the cap
    * reacts per capture file, and terminates (AvailableNow) with the idle
    * timeout off: an armed one runs a batch after every batch, and the
    * replay never ends. A live run arms it, firing every [[LiveTriggerMs]].
    */
  private[graft] def kafkaTrigger(capped: Boolean): Trigger =
    if (capped) Trigger.AvailableNow() else Trigger.ProcessingTime(LiveTriggerMs)

  private[graft] def kafkaRecords(spark: SparkSession, dir: String,
                                  ports: Set[Int], capped: Boolean): DataFrame =
    InspectorStream.recordsFromPcapDir(spark, dir, withIdleTimeout = !capped,
      maxFilesPerTrigger = if (capped) Some(1) else None, ports = ports).toDF()

  /** `-v` load preamble: the capture files the pipeline is about to read,
    * listed by the `binaryFile` source itself, so its exclusions (hidden
    * `.`/`_` names, `._COPYING_` uploads) hold here too.
    */
  private def listCaptureFiles(spark: SparkSession, dir: String,
                               out: PrintStream): Unit =
    try {
      val files = spark.read.format("binaryFile").load(dir)
        .select("path", "length").collect()
        .map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).getName, r.getLong(1)))
        .sortBy(_._1)
      out.println(s"[v] ${files.length} capture files in $dir")
      files.foreach { case (name, n) => out.println(s"[v]   $name ($n bytes)") }
    } catch {
      case NonFatal(e) => out.println(s"[v] could not list $dir: ${e.getMessage}")
    }

  private def runSave(spark: SparkSession, dir: String, prefix: String,
                      ports: Set[Int], maxRecords: Option[Int],
                      out: PrintStream): Int =
    try {
      Inspector.saveTables(spark, dir, prefix, ports = ports, maxRecords = maxRecords)
        .foreach(table => out.println(s"saved $table (${spark.table(table).count()} rows)"))
      0
    } catch {
      case NonFatal(e) => out.println(s"save failed: ${e.getMessage}"); 1
    }

  private def runKafka(spark: SparkSession, dir: String, spec: String,
                       ports: Set[Int], ckpt: Option[String],
                       durationMs: Option[Long], maxRecords: Option[Int],
                       verbose: Boolean, out: PrintStream): Int =
    try {
      val parsed = KafkaSink.parseSpec(spec)
      // -c: a replay that ends at the cap or once the directory is drained
      val capped = maxRecords.isDefined
      val records = kafkaRecords(spark, dir, ports, capped)
      val json = KafkaSink.jsonRecords(records, parsed,
        java.net.InetAddress.getLocalHost.getHostName)
      // self-created temp checkpoints are deleted in the finally below —
      // repeated capped/bounded runs were accumulating graft_kafka_ckpt*
      // state dirs in /tmp (round-8 advice). A user-supplied -t dir is
      // the user's resume state and is never touched.
      val ownCkpt = if (ckpt.isEmpty)
        Some(java.nio.file.Files.createTempDirectory("graft_kafka_ckpt"))
      else None
      val checkpoint = ckpt.getOrElse(ownCkpt.get.toString)
      val name = s"graft-kafka-${java.util.UUID.randomUUID()}"
      val writer = KafkaSink.writeStream(json, parsed, checkpoint).queryName(name)
        .trigger(kafkaTrigger(capped))
      val report: (Long, Long, Long) => Unit =
        if (verbose) (batch, n, total) =>
          out.println(s"[v] trigger $batch: $n records ($total total)")
        else (_, _, _) => ()
      val tracker = new InspectorStream.ProgressTracker(name, report)
      // registered BEFORE start: a fast first trigger must not slip past
      spark.streams.addListener(tracker)
      try {
        val query = writer.start()
        out.println(s"streaming $dir -> kafka ${parsed.servers} " +
          s"(requests='${parsed.topic1}', responses='${parsed.topic2}')")
        InspectorStream.awaitCapped(query, tracker,
          maxRecords.fold(Long.MaxValue)(_.toLong), durationMs)
      } finally {
        spark.streams.removeListener(tracker)
        ownCkpt.foreach(Fs.deleteTree)
      }
      0
    } catch {
      case NonFatal(e) => out.println(s"kafka run failed: ${e.getMessage}"); 1
    }

  private def runSql(spark: SparkSession, dir: String, ports: Set[Int],
                     stmts: Vector[String], maxRecords: Option[Int],
                     verbose: Boolean, in: BufferedReader,
                     out: PrintStream): Int = {
    Inspector.registerViews(spark, dir, ports, maxRecords)
    graft.functions.VectorFunctions.register(spark)
    if (verbose) {
      // materializes the shared records once; every later statement reuses them
      val nReq = spark.table("requests").count()
      val nRes = spark.table("responses").count()
      out.println(s"[v] decoded $nReq requests, $nRes responses" +
        maxRecords.fold("")(n => s" (capped at $n records)"))
    }
    def one(sql: String): Boolean =
      try { render(spark.sql(sql), out); true }
      catch { case NonFatal(e) =>
        // getMessage can be null (NPE in expression eval) or empty
        val msg = Option(e.getMessage)
          .flatMap(_.linesIterator.find(_.trim.nonEmpty))
          .getOrElse(e.getClass.getSimpleName)
        out.println(s"error: $msg"); false }
    if (stmts.nonEmpty) {
      if (stmts.map(one).forall(identity)) 0 else 1
    } else {
      out.println("graft sql> tables: requests, responses, actions, results" +
        " (empty line or EOF quits)")
      var line = in.readLine()
      while (line != null && line.trim.nonEmpty) {
        one(line.trim)
        line = in.readLine()
      }
      0
    }
  }

  /** Plain fixed-width render (driver-side; capped — an interactive shell
    * shows a page, it does not collect an unbounded result).
    */
  private def render(df: DataFrame, out: PrintStream): Unit = {
    val maxRows = 1000
    val rows = df.take(maxRows + 1)
    val shown = rows.take(maxRows)
    val header = df.columns
    val cells = shown.map(_.toSeq.map {
      case null => "NULL"
      case b: Array[Byte] => s"<${b.length} bytes>"
      case v => v.toString
    })
    val widths = header.indices.map(c =>
      (header(c).length +: cells.map(_(c).length)).max)
    def line(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString("  ")
    out.println(line(header.toSeq))
    cells.foreach(r => out.println(line(r)))
    out.println(
      if (rows.length > maxRows) s"(first $maxRows rows)" else s"(${shown.length} rows)")
  }
}
