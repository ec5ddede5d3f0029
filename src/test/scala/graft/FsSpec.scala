package graft

import java.io.IOException
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The derived-directory rule of [[Fs]]: publish, touch, sweepIdle. */
class FsSpec extends AnyFunSuite {

  private def withDir(body: Path => Unit): Unit = {
    val d = Files.createTempDirectory("graft_fsspec")
    try body(d) finally Fs.deleteTree(d)
  }

  private def names(d: Path): Set[String] = {
    val listing = Files.list(d)
    try listing.iterator().asScala.map(_.getFileName.toString).toSet
    finally listing.close()
  }

  private def writeDir(p: Path, content: String): Unit = {
    Files.createDirectories(p.resolve("sub"))
    Files.writeString(p.resolve("sub/part"), content)
  }

  private val TwoHoursAgo = System.currentTimeMillis() - 2 * 60 * 60 * 1000L

  /** Set every mtime under `p` to two hours ago. */
  private def age(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toList.foreach(
      Files.setLastModifiedTime(_, FileTime.fromMillis(TwoHoursAgo)))
    finally walk.close()
  }

  test("publish writes an absent target through a hidden staging sibling") {
    withDir { d =>
      val target = d.resolve("fixture")
      var staged: Option[Path] = None
      Fs.publish(target) { p => staged = Some(p); writeDir(p, "mine") }
      assert(staged.exists(_.getFileName.toString.matches("""\.tmp_fixture_[0-9a-f]{8}""")),
        staged.toString)
      assert(staged.exists(_.getParent == d))
      assert(Files.readString(target.resolve("sub/part")) === "mine")
      assert(names(d) === Set("fixture"))
    }
  }

  test("publish leaves a present target alone and never calls the write") {
    withDir { d =>
      val target = d.resolve("fixture")
      writeDir(target, "old")
      var called = false
      Fs.publish(target) { p => called = true; writeDir(p, "new") }
      assert(!called)
      assert(Files.readString(target.resolve("sub/part")) === "old")
      assert(names(d) === Set("fixture"))
    }
  }

  test("publish that loses the race mid-write keeps the rival's target, drops its staging copy, throws nothing") {
    withDir { d =>
      val target = d.resolve("fixture")
      Fs.publish(target) { p =>
        writeDir(p, "mine")
        writeDir(target, "rival") // a rival JVM publishes first
      }
      assert(Files.readString(target.resolve("sub/part")) === "rival")
      assert(names(d) === Set("fixture"))
    }
  }

  test("publish whose move fails with no target throws IOException and leaves no staging copy") {
    withDir { d =>
      // a dangling link is no target, and renaming a directory onto it fails
      val target = Files.createSymbolicLink(d.resolve("fixture"), d.resolve("nowhere"))
      val e = intercept[IOException](Fs.publish(target)(writeDir(_, "mine")))
      assert(e.getMessage.contains("could not publish"), e.getMessage)
      assert(names(d) === Set("fixture"))
      assert(Files.isSymbolicLink(target) && !Files.exists(target))
      // a failed write takes the same path
      val other = d.resolve("other")
      intercept[IOException](Fs.publish(other) { p =>
        writeDir(p, "half")
        throw new IOException("disk full")
      })
      assert(names(d) === Set("fixture"))
    }
  }

  test("sweepIdle keeps a dir with an old top-level mtime but a recent file deep inside") {
    withDir { d =>
      val busy = d.resolve("busy")
      writeDir(busy, "x")
      age(busy)
      Files.writeString(busy.resolve("sub/fresh"), "still writing")
      Files.setLastModifiedTime(busy, FileTime.fromMillis(TwoHoursAgo))
      Files.setLastModifiedTime(busy.resolve("sub"), FileTime.fromMillis(TwoHoursAgo))
      assert(Fs.sweepIdle(d, Fs.IdleMs)(_ => true) === Nil)
      assert(Files.exists(busy.resolve("sub/fresh")))
    }
  }

  test("sweepIdle deletes wholly idle picks, honours select, keeps unreadable entries") {
    withDir { d =>
      val idle = d.resolve("pick_idle")
      val fresh = d.resolve("pick_fresh")
      val unpicked = d.resolve("other_idle")
      Seq(idle, fresh, unpicked).foreach(writeDir(_, "x"))
      Seq(idle, unpicked).foreach(age)
      // an entry whose mtime cannot be read counts as live
      Files.createSymbolicLink(d.resolve("pick_dangling"), d.resolve("nowhere"))
      val swept = Fs.sweepIdle(d, Fs.IdleMs)(_.getFileName.toString.startsWith("pick_"))
      assert(swept === Seq(idle))
      assert(names(d) === Set("pick_fresh", "other_idle", "pick_dangling"))
      // touch is the liveness beacon: a touched idle dir survives
      Fs.touch(unpicked)
      assert(Fs.sweepIdle(d, Fs.IdleMs)(_ => true) === Nil)
    }
  }
}
