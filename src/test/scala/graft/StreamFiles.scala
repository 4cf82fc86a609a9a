package graft

import org.apache.spark.sql.DataFrame

/** Replay files and scratch directories for stream tests. A file source
  * reads whole files, so a test that controls its micro-batches writes
  * each batch's rows as ONE parquet file with a name it chooses.
  */
object StreamFiles {

  /** A test's scratch root; `dir(name)` makes the directory `<root>/<name>`
    * and returns its path.
    */
  final class Scratch(val root: java.io.File) {
    def dir(name: String): String = {
      val d = new java.io.File(root, name)
      java.nio.file.Files.createDirectories(d.toPath)
      d.getAbsolutePath
    }
  }

  /** Run `body` with a fresh scratch root `java.io.tmpdir/<prefix><random>`,
    * deleted with everything under it in `finally`.
    */
  def withScratch[A](prefix: String)(body: Scratch => A): A = {
    val scratch = new Scratch(java.nio.file.Files.createTempDirectory(prefix).toFile)
    try body(scratch)
    finally org.apache.commons.io.FileUtils.deleteQuietly(scratch.root)
  }

  /** Write `df` as the single file `<dir>/<name>.parquet` and return it.
    * The rows are written to a staging directory outside `dir` and the
    * one part file is moved in, so a file source listing `dir` never
    * sees a partial write; a file already at that name is replaced.
    * `mtime` (epoch ms) sets the file's modification time, which orders
    * the files a stream reads one per trigger.
    */
  def writeOne(df: DataFrame, dir: String, name: String,
               mtime: Option[Long] = None): java.io.File =
    withScratch("graft_stage") { stage =>
      df.coalesce(1).write.mode("overwrite").parquet(stage.root.getAbsolutePath)
      val part = stage.root.listFiles().filter(_.getName.endsWith(".parquet")).head
      val target = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      mtime.foreach(target.setLastModified)
      target
    }
}
