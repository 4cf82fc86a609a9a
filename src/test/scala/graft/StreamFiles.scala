package graft

import org.apache.spark.sql.DataFrame

/** Replay files for stream tests. A file source reads whole files, so a
  * test that controls its micro-batches writes each batch's rows as ONE
  * parquet file with a name it chooses.
  */
object StreamFiles {

  /** Write `df` as the single file `<dir>/<name>.parquet` and return it.
    * The rows are written to a staging directory outside `dir` and the
    * one part file is moved in, so a file source listing `dir` never
    * sees a partial write; a file already at that name is replaced.
    * `mtime` (epoch ms) sets the file's modification time, which orders
    * the files a stream reads one per trigger.
    */
  def writeOne(df: DataFrame, dir: String, name: String,
               mtime: Option[Long] = None): java.io.File = {
    val stage = java.nio.file.Files.createTempDirectory("graft_stage").toFile
    try {
      df.coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      val target = new java.io.File(dir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      mtime.foreach(target.setLastModified)
      target
    } finally org.apache.commons.io.FileUtils.deleteQuietly(stage)
  }
}
