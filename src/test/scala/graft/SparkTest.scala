package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local SparkSession across all suites (startup costs ~10s). */
object SparkTest {
  lazy val session: SparkSession = Session.local(4)
  val sfDir = "/root/testdata/sf0.001"

  /** Stage each frame as ONE parquet file under `dir/f<i>` with strictly
    * increasing mtimes (1 s apart), so a maxFilesPerTrigger=1 file
    * stream over `dir` yields one DETERMINISTIC trigger per frame, in
    * order (the file source orders by modification time). */
  def stageTriggerFiles(dir: String, frames: Seq[DataFrame]): Unit =
    frames.zipWithIndex.foreach { case (f, i) =>
      f.coalesce(1).write.parquet(s"$dir/f$i")
      val walked = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/f$i"))
      try walked.forEach(p => java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime
          .fromMillis(1700000000000L + i * 1000L)))
      finally walked.close()
    }
}
