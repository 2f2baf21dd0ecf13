package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

class AtomicFilesSpec extends AnyFunSuite {

  test("read: an absent file is None; write then read round-trips") {
    val conf = new Configuration()
    val fs = FileSystem.getLocal(conf)
    val dir = new Path(Files.createTempDirectory("atomicfiles-").toString)
    try {
      val p = new Path(dir, "_MARKER")
      assert(AtomicFiles.read(fs, p).isEmpty)
      AtomicFiles.write(fs, conf, p, "128 32\nnon-ascii: é".getBytes("UTF-8"))
      assert(AtomicFiles.read(fs, p).contains("128 32\nnon-ascii: é"))
      AtomicFiles.write(fs, conf, p, Array.emptyByteArray)
      assert(AtomicFiles.read(fs, p).contains(""))
    } finally fs.delete(dir, true)
  }
}
