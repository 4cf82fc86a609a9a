package graft

import graft.sources.Formats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip tests for every source/sink surface. */
class FormatsSpec extends AnyFunSuite with ScratchTests {
  private lazy val spark = SparkTestSession.spark
  protected val scratchPrefix = "graft-formats"

  scratchTest("KeyValue newline-JSON round-trips (reference intermediate format)") { tmp =>
    import spark.implicits._
    val kvs = Seq(("a", "1"), ("b", "2"), ("c", "x y")).toDS()
    val path = tmp.dir("kvjson") + "/out"
    Formats.writeKvJson(kvs, path)
    assert(Formats.readKvJson(spark, path).collect().toSet === kvs.collect().toSet)
  }

  scratchTest("csv round-trips the documents table") { tmp =>
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val path = tmp.dir("csv") + "/out"
    Formats.writeCsv(docs, path)
    val back = Formats.readCsv(spark, path, "doc_id BIGINT, lang STRING, n_chars BIGINT")
    assert(back.collect().toSet === docs.collect().toSet)
  }

  scratchTest("parquet round-trips with schema intact") { tmp =>
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val path = tmp.dir("parquet") + "/out"
    Formats.writeParquet(docs, path)
    val back = Formats.readParquet(spark, path)
    assert(back.schema === docs.schema)
    assert(back.count() === docs.count())
  }

  scratchTest("orc round-trips with schema intact") { tmp =>
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val path = tmp.dir("orc") + "/out"
    Formats.writeOrc(docs, path)
    val back = Formats.readOrc(spark, path)
    assert(back.schema === docs.schema)
    assert(back.count() === docs.count())
  }

  scratchTest("xml round-trips values (Spark 4 built-in xml source)") { tmp =>
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("lang")) // flat columns; xml has no binary
    val path = tmp.dir("xml") + "/out"
    Formats.writeXml(docs, path)
    val back = Formats.readXml(spark, path, "doc_id BIGINT, lang STRING")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back === want)
  }

  scratchTest("malformed JSON rows are captured, not silently dropped (PERMISSIVE + corrupt column)") { tmp =>
    val f = java.nio.file.Paths.get(tmp.dir("badjson"), "in.jsonl")
    java.nio.file.Files.write(f,
      """{"id": 1, "v": "ok"}
        |{"id": 2, "v": "also ok"}
        |{"id": 3, "v": BROKEN
        |not json at all
        |{"id": 4, "v": "fine"}""".stripMargin.getBytes("UTF-8"))
    val df = spark.read
      .schema("id LONG, v STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(f.toString)
      .cache() // corrupt-record column requires materialization before filtering
    assert(df.count() === 5, "every input line accounted for")
    assert(df.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNotNull).count() === 2)
    assert(df.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNull).count() === 3)
    df.unpersist()
  }

  scratchTest("text lines read one element per line (reference input format)") { tmp =>
    import spark.implicits._
    val path = tmp.dir("text") + "/out"
    Seq("line one", "line two", "line three").toDS().write.text(path)
    assert(Formats.readTextLines(spark, path).count() === 3)
  }

  scratchTest("binaryFile reads object bytes verbatim and the glob prunes at listing") { tmp =>
    val dir = java.nio.file.Paths.get(tmp.dir("binary"))
    val payloads = Map("a.img" -> Array[Byte](1, 2, 3, -1),
      "b.img" -> Array[Byte](9), "c.wav" -> Array[Byte](4, 5))
    payloads.foreach { case (n, bytes) =>
      java.nio.file.Files.write(dir.resolve(n), bytes)
    }
    val all = Formats.readBinaryFiles(spark, dir.toString)
      .select(col("path"), col("length"), col("content")).collect()
    assert(all.length === 3)
    all.foreach { r =>
      val name = r.getString(0).split('/').last
      assert(r.getAs[Array[Byte]]("content").toSeq === payloads(name).toSeq,
        s"bytes verbatim for $name")
      assert(r.getLong(1) === payloads(name).length.toLong)
    }
    // glob filter: only .img files are listed (never opened, not filtered after)
    val imgs = Formats.readBinaryFiles(spark, dir.toString, "*.img").count()
    assert(imgs === 2)
  }

  scratchTest("the file: scheme is core.LocalFs and matches stock Hadoop on permissions and link status") { tmp =>
    import java.nio.file.{Files => JFiles}
    import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[graft.core.GraftLocalFileSystem])
    assert(FileContext.getFileContext(new java.net.URI("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[graft.core.GraftLocalFs])
    val stock = new RawLocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), new org.apache.hadoop.conf.Configuration())
    val dir = java.nio.file.Paths.get(tmp.dir("localfs"))
    for (mode <- Seq("0600", "0644", "0700", "0755", "0777", "1777")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val (ours, theirs) = (dir.resolve(s"ours_$mode"), dir.resolve(s"stock_$mode"))
      Seq(ours, theirs).foreach(JFiles.createFile(_))
      fs.setPermission(new Path(ours.toString), perm)
      stock.setPermission(new Path(theirs.toString), perm)
      assert(JFiles.getPosixFilePermissions(ours) === JFiles.getPosixFilePermissions(theirs), mode)
      assert(java.nio.file.attribute.PosixFilePermissions.toString(
        JFiles.getPosixFilePermissions(ours)) === perm.toString.replace('t', 'x'), mode)
    }
    val file = dir.resolve("ours_0644")
    val link = JFiles.createSymbolicLink(dir.resolve("link"), file)
    def linkStatus(f: FileSystem, p: Path) =
      try {
        val st = f.getFileLinkStatus(p)
        Right((st.getPath, st.isFile, st.isDirectory, st.getLen, st.getModificationTime,
          if (st.isSymlink) Some(st.getSymlink) else None))
      } catch { case e: java.io.FileNotFoundException => Left(e.getClass) }
    val (missing, linkPath) = (new Path(dir.resolve("missing").toString), new Path(link.toString))
    for (p <- Seq(new Path(file.toString), missing, linkPath,
        new Path(s"file:$file"), new Path(s"file:$link"))) {
      assert(linkStatus(fs, p) === linkStatus(stock, p), p)
    }
    assert(linkStatus(fs, missing) === Left(classOf[java.io.FileNotFoundException]))
    assert(linkStatus(fs, linkPath).exists(_._6.contains(new Path(s"file:$file"))))
  }
}
