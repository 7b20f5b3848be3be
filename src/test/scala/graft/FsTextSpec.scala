package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.duration._
import scala.concurrent.{Await, Future}

/** The commit step every persisted store shares ([[FsText.commitText]]),
  * against a reader that polls while a writer keeps replacing the file. */
class FsTextSpec extends AnyFunSuite {
  test("readCommitted never misses a committed file while commits replace it") {
    // the checksummed local filesystem that `file:` paths resolve to: its
    // `.crc` side files must not pair one commit's data with another's
    val fs = FileSystem.getLocal(new Configuration())
    val p = new Path(java.nio.file.Files.createTempDirectory("fstext").toString, "CURRENT")
    FsText.commitText(fs, p, "v0")
    val stop = new AtomicBoolean
    val writer = Future {
      var i = 0
      while (!stop.get) { i += 1; FsText.commitText(fs, p, s"v$i"); Thread.sleep(1) }
      i
    }(scala.concurrent.ExecutionContext.global)
    var (misses, reads) = (0, 0)
    val deadline = System.nanoTime() + 3.seconds.toNanos
    while (System.nanoTime() < deadline) {
      if (FsText.readCommitted(fs, p).isEmpty) misses += 1
      reads += 1
    }
    stop.set(true)
    val commits = Await.result(writer, 1.minute)
    assert(commits > 0 && misses == 0, s"$misses of $reads reads missed one of $commits commits")
  }
}
