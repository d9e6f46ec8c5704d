package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.IOUtils

/** `file://` commits go through [[NioLocalFileSystem]]: same modes and
  * checksums as the stock `LocalFileSystem`, without forking `chmod`.
  */
class LocalFsSpec extends SparkTestBase {

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** (path relative to `root` with job UUIDs masked, mode) of every file
    * and directory under `root`.
    */
  private def modes(root: String): Seq[(String, Int)] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(_ != r).map { p =>
      r.relativize(p).toString.replaceAll(
        "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") -> mode(p)
    }.toSeq.sorted
  }

  /** A partitioned parquet write under Hadoop umask 027 (differs from the
    * OS umask, so modes come from `setPermission`, not from file creation).
    * The uncached file system is built from this write's options.
    */
  private def writeParquet(dir: String, fsImpl: Option[String] = None): Unit = {
    val w = spark.range(0, 200).selectExpr("id", "id % 3 AS k").write
      .mode("overwrite").partitionBy("k")
      .option("fs.file.impl.disable.cache", "true")
      .option("fs.permissions.umask-mode", "027")
    fsImpl.fold(w)(w.option("fs.file.impl", _)).parquet(dir)
  }

  private def partFiles(root: String): Seq[JPath] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.getFileName.toString.matches("part-.*\\.parquet")).toSeq

  private def localFs: FileSystem =
    FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)

  test("file:// resolves to NioLocalFileSystem under the session conf") {
    assert(NioLocalFileSystem.SessionConf.forall { case (k, v) => spark.conf.get(k) == v })
    assert(localFs.isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("a parquet write gets the stock LocalFileSystem's modes and .crc sidecars") {
    val nio = s"${tmpDir("localfs-nio")}/out"
    val stock = s"${tmpDir("localfs-stock")}/out"
    writeParquet(nio)
    writeParquet(stock, Some(classOf[LocalFileSystem].getName))
    val got = modes(nio)
    assert(got === modes(stock))
    assert(got.map(_._2).toSet === Set(octal("640"), octal("750")), got)
    val data = partFiles(nio)
    assert(data.size >= 3, got)
    data.foreach(f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f))
  }

  test("a flipped byte fails the read with ChecksumException") {
    val dir = s"${tmpDir("localfs-crc")}/out"
    writeParquet(dir)
    val file = partFiles(dir).head
    val len = Files.size(file).toInt
    val raf = new RandomAccessFile(file.toFile, "rw")
    try {
      raf.seek(len / 2)
      val b = raf.read()
      raf.seek(len / 2)
      raf.write(b ^ 0xFF)
    } finally raf.close()
    val in = localFs.open(new Path(file.toUri))
    try intercept[ChecksumException](IOUtils.readFully(in, new Array[Byte](len), 0, len))
    finally in.close()
  }

  test("modes nio cannot express go through the stock path") {
    val root = Paths.get(tmpDir("localfs-modes"))
    // sticky bit: no PosixFilePermission for it
    val sticky = Files.createDirectory(root.resolve("sticky"))
    localFs.setPermission(new Path(sticky.toUri), new FsPermission(octal("1750").toShort))
    assert(mode(sticky) === octal("1750"))
    // `chmod 0750` keeps a directory's setgid bit
    val setgid = Files.createDirectory(root.resolve("setgid"))
    Files.setAttribute(setgid, "unix:mode", octal("2755"))
    localFs.setPermission(new Path(setgid.toUri), new FsPermission(octal("750").toShort))
    assert(mode(setgid) === octal("2750"))
    // the plain case takes the nio path
    val plain = Files.createFile(root.resolve("plain"))
    localFs.setPermission(new Path(plain.toUri), new FsPermission(octal("600").toShort))
    assert(mode(plain) === octal("600"))
  }
}
