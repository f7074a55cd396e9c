package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.io.{ForklessCheckpointFileManager, ForklessLocalFileSystem, LocalIO}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Local `file:` I/O through [[graft.io.LocalIO]]: the session resolves
  * `file:` to the fork-free file system, which still writes the requested
  * permissions and Hadoop's `.crc` sidecars, and a local streaming
  * checkpoint still carries Spark's state checksum files. */
class LocalIOSpec extends SparkSpec {

  private def tmpDir(prefix: String): JPath = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def localFs: FileSystem =
    FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())

  test("the session resolves file:/// to ForklessLocalFileSystem") {
    assert(localFs.getClass === classOf[ForklessLocalFileSystem])
    assert(FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
      .getClass === classOf[ForklessLocalFileSystem])
  }

  test("created files and dirs carry exactly the requested mode and keep a .crc sidecar") {
    val root = tmpDir("graft-localio-")
    val fs = localFs
    val dir = new Path(root.toUri.toString + "/d")
    assert(fs.mkdirs(dir, new FsPermission("750")))
    assert(mode(root.resolve("d")) === "rwxr-x---")

    val file = new Path(dir, "f.bin")
    val out = fs.create(file, new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null)
    try out.write(Array.fill[Byte](100)(7)) finally out.close()
    assert(mode(root.resolve("d/f.bin")) === "rw-r-----")
    assert(Files.exists(root.resolve("d/.f.bin.crc")), "Hadoop .crc sidecar missing")
    assert(fs.getFileStatus(file).getLen === 100L)

    // a later setPermission changes the same bits on an existing file
    fs.setPermission(file, new FsPermission("600"))
    assert(mode(root.resolve("d/f.bin")) === "rw-------")
  }

  test("a local streaming checkpoint keeps Spark's state checksum files next to the deltas") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = tmpDir("graft-localio-ckpt-")
    val in = MemoryStream[(String, Long)]
    val q = in.toDF().toDF("k", "v").dropDuplicates("k")
      .writeStream.format("memory").queryName("localio_dedup")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      in.addData(("a", 1L), ("b", 2L))
      q.processAllAvailable()
      in.addData(("a", 3L), ("c", 4L))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("localio_dedup").as[(String, Long)].collect().map(_._1).sorted
      .toSeq === Seq("a", "b", "c"))

    val files = Files.walk(ckpt).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val deltas = files.filter(_.getFileName.toString.matches("\\d+\\.delta"))
    assert(deltas.nonEmpty, s"no state deltas under $ckpt")
    deltas.foreach { d =>
      assert(Files.exists(d.resolveSibling(d.getFileName.toString + ".crc")),
        s"Spark checksum file missing for $d")
    }
    assert(files.exists(_.getFileName.toString.startsWith(".")), "no Hadoop .crc sidecars")
  }

  test("the checkpoint file manager is FileSystem-based only for file:") {
    val conf = spark.sessionState.newHadoopConf()
    val local = new Path(tmpDir("graft-localio-cfm-").toUri)
    val fm = CheckpointFileManager.create(local, conf)
    assert(fm.isInstanceOf[ForklessCheckpointFileManager])
    assert(fm.asInstanceOf[ForklessCheckpointFileManager].delegate
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(LocalIO.isLocalPath(new Path("/tmp/ckpt"), conf)) // default FS is file:
    Seq("hdfs://nn:8020/ckpt", "s3a://bucket/ckpt", "abfs://c@a.dfs.core.windows.net/ckpt")
      .foreach(p => assert(!LocalIO.isLocalPath(new Path(p), conf), p))
  }
}
