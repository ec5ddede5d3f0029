package graftbench

import scala.jdk.CollectionConverters._

/** Host-noise stamp over a timed region: hypervisor steal and load
  * average deltas plus the number of other JVMs on the host, so a run
  * slowed by a neighbour describes itself and is not read as a code
  * regression.
  */
final case class HostStamp(stealMs: Double, loadDelta: Double, foreignJvms: Int)

object Host {

  /** Milliseconds per /proc/stat jiffy (USER_HZ; 100 on Linux). */
  private val MsPerJiffy = 10.0

  private def steal(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }

  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => 0.0 }

  /** JVMs other than this one and its ancestors. */
  def foreignJvms(): Int = {
    val self = ProcessHandle.current()
    val own = Iterator.iterate(Option(self))(_.flatMap(p => p.parent().toScala))
      .takeWhile(_.isDefined).flatten.map(_.pid()).toSet
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      !own(p.pid()) && p.info().command().toScala.exists(c => c.endsWith("/java") || c == "java")
    }
  }

  final class Mark private[Host] (steal0: Long, load0: Double) {
    def stamp(): HostStamp =
      HostStamp((steal() - steal0) * MsPerJiffy, load1() - load0, foreignJvms())
  }

  def mark(): Mark = new Mark(steal(), load1())

  private implicit class OptionalOps[A](o: java.util.Optional[A]) {
    def toScala: Option[A] = if (o.isPresent) Some(o.get) else None
  }
}
