package graft

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}

import org.apache.spark.sql.functions.col

import graft.inspector.SyntheticTraffic

class MainSpec extends SparkSpec {

  private def run(args: Array[String], stdin: String = ""): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    val code = Main.execute(spark, args,
      new BufferedReader(new StringReader(stdin)), out)
    (code, buf.toString("UTF-8"))
  }

  test("-e statements round-trip the synthetic capture end to end") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(),
      "-e", "SELECT count(*) AS n FROM requests",
      "-e", "SELECT count(*) AS n FROM responses"))
    assert(code === 0, out)
    assert(out.contains(SyntheticTraffic.ExpectedRequests.toString))
    assert(out.contains(SyntheticTraffic.ExpectedResponses.toString))
  }

  test("interactive loop executes statements until the empty line") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir()),
      stdin = "SELECT method, count(*) AS c FROM requests GROUP BY method ORDER BY c DESC\n\n")
    assert(code === 0, out)
    assert(out.contains("graft sql>"))
    assert(out.contains("get")) // most frequent method present in rendering
  }

  test("a bad statement reports the error and fails the -e run") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(),
      "-e", "SELECT nope FROM requests"))
    assert(code === 1)
    assert(out.contains("error:"))
  }

  test("-k with an invalid Kafka spec fails cleanly, not with a stack trace") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(), "-k", "no-topics-here"))
    assert(code === 1)
    assert(out.contains("kafka run failed:"))
  }

  test("missing capture dir / unknown flag print usage and fail") {
    assert(run(Array.empty[String])._1 === 1)
    val (code, out) = run(Array("--bogus"))
    assert(code === 1)
    assert(out.contains("usage:"))
  }

  test("-i -n prints a tcpdump command with the BPF/snaplen/rotation knobs") {
    val (code, out) = run(Array("/var/capture", "-i", "eth0", "-p", "16020", "-n"))
    assert(code === 0)
    assert(out.contains("tcpdump -i 'eth0'"))
    assert(out.contains("port 16020"))
    assert(out.contains("tcp[12]&0xf0"))   // data-carrying-segments BPF (v4)
    assert(out.contains("ip6[52]&0xf0"))   // ...and the fixed-header v6 branch
    // the rotate script is heredoc-written (no nested-quote trap) and the
    // destination dir rides inside it shell-quoted
    assert(out.contains("<<'GRAFT_ROTATE'"))
    assert(out.contains("mv \"$1.gz\" '/var/capture/'"))
    // in-progress files stay hidden from the tailing source: write to the
    // dot-prefixed staging dir, finish via the atomic post-rotate mover
    assert(out.contains("-w '/var/capture/.staging/capture-%s.pcap'"))
    assert(out.contains("-z '/var/capture/.staging/rotate.sh'"))
    assert(out.contains("mv "))
  }

  test("-o persists the 4 bucketed tables and reports their row counts") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(), "-o", "mainspec"))
    assert(code === 0, out)
    for (t <- Seq("requests", "responses", "actions", "results"))
      assert(out.contains(s"saved mainspec_$t ("), out)
    assert(out.contains(s"saved mainspec_requests (${SyntheticTraffic.ExpectedRequests} rows)"))
    // the persisted tables are bucketed: a join ON THE BUCKET KEY plans
    // without any exchange. Same knobs as InspectorSpec's saveTables
    // check: broadcast off (a broadcast join would bypass the property)
    // and auto-bucketed-scan heuristic off (it falls back to a plain scan
    // on tiny tables, printing "Bucketed: false (disabled by query
    // planner)" and shuffling).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val j = spark.table("mainspec_requests")
        .groupBy(col("client"), col("port")).count()
        .join(spark.table("mainspec_responses")
          .groupBy(col("client"), col("port")).count(),
          Seq("client", "port"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    }
  }

  test("-o combined with -k or -e is a usage error") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(),
      "-o", "pfx", "-e", "SELECT 1"))
    assert(code === 1)
    assert(out.contains("-o cannot be combined"))
  }

  test("-n without -i is a usage error, not a silent real run") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(), "-n",
      "-e", "SELECT count(*) AS n FROM requests"))
    assert(code === 1)
    assert(out.contains("-n requires -i"))
    assert(!out.contains(SyntheticTraffic.ExpectedRequests.toString))
  }

  test("-i launches the capture, runs the mode, and stops the capture after") {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    var launched: Option[(String, String, graft.streaming.CaptureProcess.Handle)] = None
    val code = Main.execute(spark,
      Array(SyntheticTraffic.ensurePcapDir(), "-i", "eth0",
        "-e", "SELECT count(*) AS n FROM requests"),
      new BufferedReader(new StringReader("")), out,
      capture = (ifc, d, _) => {
        val h = graft.streaming.CaptureProcess.startCommand("sleep 60", d)
        launched = Some((ifc, d, h)); h
      })
    val text = buf.toString("UTF-8")
    assert(code === 0, text)
    assert(launched.isDefined, "capture launcher was never invoked")
    assert(launched.get._1 === "eth0")
    assert(!launched.get._3.isAlive, "capture outlived the run")
    assert(text.contains("capturing eth0"))
    assert(text.contains("capture stopped"))
    assert(text.contains(SyntheticTraffic.ExpectedRequests.toString))
  }

  test("bare -i lists the devices, prompts, and captures on the selection") {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    var launched: Option[String] = None
    val code = Main.execute(spark,
      // -i followed by another flag = no IFACE given (reference
      // core.clj:443-451: list the devices and ask)
      Array(SyntheticTraffic.ensurePcapDir(), "-i",
        "-e", "SELECT count(*) AS n FROM requests"),
      new BufferedReader(new StringReader("2\n")), out,
      capture = (ifc, d, _) => {
        launched = Some(ifc)
        graft.streaming.CaptureProcess.startCommand("sleep 60", d)
      },
      listIfs = () => Seq("lo" -> "loopback", "eth0" -> "eth0"))
    val text = buf.toString("UTF-8")
    assert(code === 0, text)
    assert(text.contains("available interfaces:"))
    assert(text.contains("1: lo (loopback)"))
    assert(text.contains("2: eth0"))
    assert(text.contains("choose interface [1-2]:"))
    assert(launched === Some("eth0"))
    assert(text.contains(SyntheticTraffic.ExpectedRequests.toString))
  }

  test("bare -i -n prompts, then previews the command for the selection") {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    val code = Main.execute(spark, Array("/var/capture", "-i", "-n"),
      new BufferedReader(new StringReader("1\n")), out,
      listIfs = () => Seq("en1" -> ""))
    val text = buf.toString("UTF-8")
    assert(code === 0, text)
    assert(text.contains("tcpdump -i 'en1'"))
  }

  test("bare -i with an invalid or absent selection fails, no capture") {
    for (stdin <- Seq("7\n", "x\n", "")) {
      val buf = new ByteArrayOutputStream()
      val out = new PrintStream(buf, true, "UTF-8")
      var launched = false
      val code = Main.execute(spark,
        Array(SyntheticTraffic.ensurePcapDir(), "-i", "-e", "SELECT 1"),
        new BufferedReader(new StringReader(stdin)), out,
        capture = (_, d, _) => {
          launched = true
          graft.streaming.CaptureProcess.startCommand("sleep 60", d)
        },
        listIfs = () => Seq("lo" -> "loopback"))
      assert(code === 1, s"stdin=$stdin: ${buf.toString("UTF-8")}")
      assert(!launched, s"stdin=$stdin launched a capture")
    }
  }

  test("bare -i with no devices at all fails with a message") {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    val code = Main.execute(spark,
      Array(SyntheticTraffic.ensurePcapDir(), "-i", "-e", "SELECT 1"),
      new BufferedReader(new StringReader("1\n")), out,
      listIfs = () => Seq.empty)
    assert(code === 1)
    assert(buf.toString("UTF-8").contains("no capture interfaces found"))
  }

  test("-i -d captures for the duration, stops, THEN serves the SQL") {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    var handle: Option[graft.streaming.CaptureProcess.Handle] = None
    val code = Main.execute(spark,
      Array(SyntheticTraffic.ensurePcapDir(), "-i", "eth0", "-d", "300",
        "-e", "SELECT count(*) AS n FROM requests"),
      new BufferedReader(new StringReader("")), out,
      capture = (_, d, _) => {
        val h = graft.streaming.CaptureProcess.startCommand("sleep 60", d)
        handle = Some(h); h
      })
    // runSql can't observe the handle itself; infer the ordering from the
    // output: the bounded-stop line must precede the query result
    val text = buf.toString("UTF-8")
    assert(code === 0, text)
    // the stop line reports the ACTUAL capture window (>= the requested
    // 300 ms — the liveness wait may overshoot the bound), and exactly
    // ONCE: the finally must not repeat it (round-9 advice)
    val stops = "capture stopped after (\\d+) ms".r.findAllMatchIn(text).toList
    assert(stops.length === 1, s"expected one stop line:\n$text")
    assert(stops.head.group(1).toLong >= 300L, text)
    val stopAt = stops.head.start
    val resultAt = text.indexOf(SyntheticTraffic.ExpectedRequests.toString)
    assert(resultAt > stopAt, "SQL served before the bounded capture stopped")
    assert(handle.exists(!_.isAlive), "capture outlived the bounded run")
  }

  test("-d rejects zero and negative durations like -c") {
    for (bad <- Seq("0", "-5")) {
      val buf = new ByteArrayOutputStream()
      val out = new PrintStream(buf, true, "UTF-8")
      val code = Main.execute(spark,
        Array(SyntheticTraffic.ensurePcapDir(), "-i", "eth0", "-d", bad,
          "-e", "SELECT 1"),
        new BufferedReader(new StringReader("")), out,
        capture = (_, d, _) =>
          graft.streaming.CaptureProcess.startCommand("sleep 60", d))
      assert(code === 1)
      assert(buf.toString("UTF-8").contains("-d requires a positive duration"))
    }
  }

  test("-i with a capture that dies immediately fails the run with its log") {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    val code = Main.execute(spark,
      Array(SyntheticTraffic.ensurePcapDir(), "-i", "eth0",
        "-e", "SELECT 1"),
      new BufferedReader(new StringReader("")), out,
      capture = (_, d, _) =>
        graft.streaming.CaptureProcess.startCommand("echo device-gone; exit 3", d))
    val text = buf.toString("UTF-8")
    assert(code === 1)
    assert(text.contains("capture exited with code 3"))
    assert(text.contains("device-gone"))
  }

  test("-h prints the full usage and exits 0") {
    val (code, out) = run(Array("-h"))
    assert(code === 0)
    assert(out.contains("usage:"))
    assert(out.contains("-c N") && out.contains("-v") && out.contains("-h"))
    assert(out.contains("--version"))
  }

  test("--version prints build.sbt's version and exits 0") {
    // in-process (class-directory) runs have no jar manifest, so this
    // exercises the -Dgraft.version fallback build.sbt passes to test
    // JVMs; PackagedJarSpec pins the manifest path from the bare jar
    val (code, out) = run(Array("--version"))
    assert(code === 0)
    val expected = sys.props.getOrElse("graft.version",
      fail("build.sbt must pass -Dgraft.version to test JVMs"))
    assert(out.linesIterator.exists(_.trim == s"graft $expected"), out)
  }

  test("-c caps the records the SQL surface sees") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(), "-c", "5",
      "-e", "SELECT (SELECT count(*) FROM requests) + " +
        "(SELECT count(*) FROM responses) AS n"))
    assert(code === 0, out)
    // 29 records exist in the synthetic captures; the take-bound keeps 5
    assert(out.linesIterator.exists(_.trim === "5"), out)
  }

  test("-d without -k or -i is a usage error, not a silent unbounded run") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(), "-d", "5000",
      "-e", "SELECT count(*) AS n FROM requests"))
    assert(code === 1)
    assert(out.contains("-d requires -k or -i"))
    assert(!out.contains(SyntheticTraffic.ExpectedRequests.toString))
  }

  test("-c with a non-positive count is a usage error") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(), "-c", "0",
      "-e", "SELECT 1"))
    assert(code === 1)
    assert(out.contains("-c requires"))
  }

  test("-v prints per-file load lines and decoded record counts") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(), "-v",
      "-e", "SELECT count(*) AS n FROM requests"))
    assert(code === 0, out)
    assert(out.contains("[v] 2 capture files"), out)
    assert(out.contains("capture-00001.pcap"), out)
    assert(out.contains(s"[v] decoded ${SyntheticTraffic.ExpectedRequests} " +
      s"requests, ${SyntheticTraffic.ExpectedResponses} responses"), out)
  }

  test("-v lists only the files the binaryFile source reads") {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(SyntheticTraffic.ensurePcapDir())
    val dir = java.nio.file.Paths.get(TestSpark.tempDir("graft_v_listing"))
    try {
      Seq("capture-00001.pcap", "capture-00002.pcap").foreach(n =>
        Files.copy(src.resolve(n), dir.resolve(n)))
      // names Spark's file listing skips: `_`-prefixed and in-flight uploads
      Files.copy(src.resolve("capture-00001.pcap"), dir.resolve("_capture.pcap"))
      Files.copy(src.resolve("capture-00001.pcap"), dir.resolve("x.pcap._COPYING_"))
      val (code, out) = run(Array(dir.toString, "-v",
        "-e", "SELECT count(*) AS n FROM requests"))
      assert(code === 0, out)
      assert(out.contains("[v] 2 capture files"), out)
      assert(!out.contains("_capture.pcap") && !out.contains("_COPYING_"), out)
      assert(out.contains(s"[v] decoded ${SyntheticTraffic.ExpectedRequests} " +
        s"requests, ${SyntheticTraffic.ExpectedResponses} responses"), out)
    } finally Fs.deleteTree(dir)
  }

  test("-p filters to the given ports (none match -> empty tables, not errors)") {
    val (code, out) = run(Array(SyntheticTraffic.ensurePcapDir(),
      "-p", "9999",
      "-e", "SELECT count(*) AS n FROM requests"))
    assert(code === 0, out)
    assert(out.linesIterator.exists(_.trim.startsWith("0")))
  }

  test("SparkEntry.entry (the driver's flagship smoke) returns grouped rows") {
    // the driver checks rows > 0 at sf0.001 every round; pin it here so
    // a regression fails in CI before it fails the round
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(rows.head.fieldIndex("n")) > 0))
    val cols = SparkEntry.entry(spark).columns.toSet
    assert(Set("l_returnflag", "l_linestatus", "sum_qty", "sum_price", "n")
      .subsetOf(cols))
  }
}
