package graft

import graft.ops.NioCheckpointFileManager
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The local write path of [[NioCheckpointFileManager]]: a file appears
  * under its final name only on close(), whole, and never replaces an
  * existing file unless asked to. */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def withManager(body: (java.nio.file.Path, NioCheckpointFileManager) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-nio-ckpt")
    try body(dir, new NioCheckpointFileManager(new Path(dir.toUri), new Configuration()))
    finally {
      val walked = Files.walk(dir)
      try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walked.close()
    }
  }

  private def names(dir: java.nio.file.Path): Set[String] = {
    val listed = Files.list(dir)
    try listed.iterator().asScala.map(_.getFileName.toString).toSet
    finally listed.close()
  }

  private def read(fm: NioCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("close() publishes the file and leaves no temp file") {
    withManager { (dir, fm) =>
      val p = new Path(dir.toUri.toString + "/sub/0")
      fm.mkdirs(p.getParent)
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("v1".getBytes(UTF_8))
      assert(!fm.exists(p))
      out.close()
      assert(fm.exists(p) && read(fm, p) == "v1")
      assert(names(dir.resolve("sub")) == Set("0"))
      assert(fm.list(p.getParent).map(_.getPath.getName).toSeq == Seq("0"))
    }
  }

  test("createAtomic(overwrite = false) onto an existing file throws and keeps the old bytes") {
    withManager { (dir, fm) =>
      val p = new Path(dir.toUri.toString + "/0")
      val first = fm.createAtomic(p, overwriteIfPossible = false)
      first.write("old".getBytes(UTF_8))
      first.close()
      val second = fm.createAtomic(p, overwriteIfPossible = false)
      second.write("new".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](second.close())
      assert(read(fm, p) == "old")
      assert(names(dir) == Set("0"))
      val third = fm.createAtomic(p, overwriteIfPossible = true)
      third.write("new".getBytes(UTF_8))
      third.close()
      assert(read(fm, p) == "new")
    }
  }

  test("cancel() leaves neither a temp file nor a final file") {
    withManager { (dir, fm) =>
      val p = new Path(dir.toUri.toString + "/0")
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close()
      assert(!fm.exists(p))
      assert(names(dir).isEmpty)
    }
  }
}
