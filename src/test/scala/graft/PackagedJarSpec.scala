package graft

import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** Smoke for the DISTRIBUTABLE artifact (round-11 verdict item #6): the
  * `sbt package` jar plus the stock Spark jars must be a complete,
  * launchable deployment — `java -cp` with just the jar and the Spark
  * jars dir — with none of sbt's classpath assembling it silently.
  * MainSpec drives the CLI logic in-process; this proves the packaging:
  * every class the entry point needs is IN the jar, and the documented
  * JDK-17 module options are sufficient outside spark-submit.
  */
class PackagedJarSpec extends AnyFunSuite {

  // build.sbt hands every external fact down as system properties (one
  // source of truth; this spec hard-codes neither paths nor versions)
  private def prop(name: String): String = sys.props.get(name)
    .getOrElse(fail(s"build.sbt must pass -D$name to test JVMs"))

  /** `java -cp jar:sparkJars-glob graft.Main args...` on a bare
    * classpath; returns (exit code, combined output).
    */
  private def runJarCli(args: Seq[String]): (Int, String) = {
    val jar = prop("graft.packagedJar")
    assert(new java.io.File(jar).isFile, s"packaged jar missing at $jar")
    val addOpens = prop("graft.addOpens").split(',').toSeq
    val sparkJars = prop("graft.sparkJars")
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val cmd: Seq[String] = Seq(javaBin) ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Xmx2g",
      "-cp", s"$jar:$sparkJars/*", "graft.Main") ++ args
    // output to a file, NOT a pipe read before waitFor: a child hung in
    // session init with stdout open would block an eager readAllBytes
    // forever and the timeout below could never fire
    val outFile = java.nio.file.Paths.get(TestSpark.tempDir("graft_jar_smoke"), "cli.out")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(outFile.toFile)
    pb.environment().put("SPARK_MASTER", "local[2]")
    val p = pb.start()
    val finished = p.waitFor(120, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly().waitFor(10, TimeUnit.SECONDS)
    val out = java.nio.file.Files.readString(outFile)
    assert(finished, s"jar CLI hung (killed); output so far:\n$out")
    (p.exitValue(), out)
  }

  test("the sbt-package jar serves graft.Main on a bare java classpath") {
    val (code, out) = runJarCli(Seq("-h"))
    assert(code === 0, s"jar CLI exited $code:\n$out")
    assert(out.contains("usage: graft.Main"),
      s"expected the usage banner, got:\n$out")
  }

  test("--version from the bare jar reports build.sbt's version via the manifest") {
    // non-circular pin of the three version surfaces: the child JVM has
    // NO -Dgraft.version, so Main must read the jar manifest's
    // Implementation-Version (written by sbt package from build.sbt),
    // and we compare it against the version build.sbt handed THIS test
    val (code, out) = runJarCli(Seq("--version"))
    assert(code === 0, s"jar CLI exited $code:\n$out")
    assert(out.linesIterator.exists(_.trim == s"graft ${prop("graft.version")}"),
      s"expected 'graft ${prop("graft.version")}', got:\n$out")
  }
}
