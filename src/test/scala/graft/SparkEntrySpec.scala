package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {

  test("sweepDeadScratch deletes a dead pid's scratch dir only once it is an hour stale") {
    val root = Files.createTempDirectory("sweep")
    val hourMs = 60L * 60 * 1000
    def age(d: Path, ms: Long): Unit =
      Files.setLastModifiedTime(d, FileTime.fromMillis(System.currentTimeMillis() - ms))
    def scratch(suffix: Any, ageMs: Long): Path = {
      val d = Files.createDirectories(root.resolve(s"addedge_table_pid$suffix"))
      Files.writeString(d.resolve("CURRENT"), "0")
      age(d, ageMs)
      d
    }
    val deadPid = Iterator.from(999999).map(_.toLong).find(!ProcessHandle.of(_).isPresent).get
    val dead = scratch(deadPid, 0)
    val kept = Seq(
      scratch(ProcessHandle.current().pid(), 2 * hourMs),          // this process
      scratch(ProcessHandle.current().parent().get.pid(), 2 * hourMs), // a live one
      scratch("12x", 2 * hourMs))                                   // malformed
    SparkEntry.sweepDeadScratch(root)
    assert(Files.exists(dead), "a fresh dir may belong to a pid in another namespace")
    age(dead, 2 * hourMs)
    SparkEntry.sweepDeadScratch(root)
    assert(!Files.exists(dead))
    kept.foreach(d => assert(Files.exists(d), d))
  }
}
