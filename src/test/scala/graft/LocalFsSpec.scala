package graft

import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, ChecksumFs,
  CreateFlag, DF, FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{PosixLocalFileSystem, PosixLocalFs, PosixRawLocalFileSystem,
  PosixRawLocalFs}

class LocalFsSpec extends AnyFunSuite {
  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort
  private def newRoot(): File = new File(H.tmpDir("graft_localfs"))
  private def mode(f: File): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))
  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "022")
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("a bare Configuration resolves graft's FileSystem and AbstractFileSystem for file:") {
    val conf = new Configuration()
    assert(FileSystem.getFileSystemClass("file", conf) == classOf[PosixLocalFileSystem])
    val local = FileSystem.getLocal(conf)
    assert(local.isInstanceOf[PosixLocalFileSystem])
    assert(local.getRaw.isInstanceOf[PosixRawLocalFileSystem])
    val afs = AbstractFileSystem.get(URI.create("file:///"), conf)
    assert(afs.isInstanceOf[PosixLocalFs])
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[PosixRawLocalFs])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      .isInstanceOf[PosixLocalFs])
    // the Spark session's Hadoop conf loads the same core-site.xml
    val sessionFs = FileSystem.get(URI.create("file:///"),
      TestSpark.spark.sparkContext.hadoopConfiguration)
    assert(sessionFs.isInstanceOf[PosixLocalFileSystem])
  }

  test("dir and file permission bits match the stock RawLocalFileSystem's under umask 022") {
    val stock = rawFs(new RawLocalFileSystem)
    val posix = rawFs(new PosixRawLocalFileSystem)
    val root = newRoot()
    for (m <- Seq("755", "644", "700", "600", "777")) {
      val Seq(s, p) = Seq("stock" -> stock, "posix" -> posix).map { case (side, fs) =>
        val dir = new Path(new File(root, s"$side/m$m/sub").toURI)
        assert(fs.mkdirs(dir, new FsPermission(octal(m))))
        val file = new Path(dir, "part-0")
        fs.create(file, new FsPermission(octal(m)), true, 4096, 1.toShort,
          1L << 20, null).close()
        val d = fs.pathToFile(dir)
        (mode(d.getParentFile), mode(d), mode(fs.pathToFile(file)))
      }
      assert(p == s, s"mode $m")
    }
    // and the umask was applied, not ignored on both sides alike
    assert(mode(new File(root, "posix/m777/sub")) == "rwxr-xr-x")
    assert(mode(new File(root, "posix/m777/sub/part-0")) == "rwxr-xr-x")
    assert(mode(new File(root, "posix/m600/sub/part-0")) == "rw-------")
  }

  test("a sticky-bit mode takes the parent's chmod path; a missing path fails as not found") {
    val posix = rawFs(new PosixRawLocalFileSystem)
    val dir = new File(newRoot(), "sticky")
    assert(dir.mkdir())
    posix.setPermission(new Path(dir.toURI), new FsPermission(octal("1755")))
    // java.nio cannot set the sticky bit: seeing it proves the fallback ran
    val unixMode = Files.getAttribute(dir.toPath, "unix:mode").asInstanceOf[Int]
    assert((unixMode & octal("7777")) == octal("1755"))
    intercept[java.io.FileNotFoundException] {
      posix.setPermission(new Path(new File(dir, "absent").toURI),
        new FsPermission(octal("644")))
    }
  }

  test(".crc sidecars are written and a corrupted file fails the read with ChecksumException") {
    val conf = new Configuration()
    val root = newRoot()
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    def corrupt(f: File): Unit = {
      val raf = new RandomAccessFile(f, "rw")
      try { raf.seek(100); raf.write(bytes(100) ^ 0xff) } finally raf.close()
    }
    def readAll(in: java.io.DataInputStream): Unit =
      try in.readFully(new Array[Byte](bytes.length)) finally in.close()

    // FileSystem path: LocalFileSystem's checksum wrapper
    val lfs = FileSystem.getLocal(conf)
    val viaFs = new File(root, "via-fs.bin")
    val out = lfs.create(new Path(viaFs.toURI))
    try out.write(bytes) finally out.close()
    assert(new File(root, ".via-fs.bin.crc").isFile)
    readAll(lfs.open(new Path(viaFs.toURI)))
    corrupt(viaFs)
    val mount = new DF(root, conf).getMount
    try intercept[ChecksumException](readAll(lfs.open(new Path(viaFs.toURI))))
    finally {
      // LocalFileSystem.reportChecksumFailure moves the bad file and its
      // sidecar into <mount>/bad_files; remove what this test put there
      val bad = new File(mount, "bad_files")
      Option(bad.listFiles()).toSeq.flatten
        .filter(_.getName.contains("via-fs.bin")).foreach(_.delete())
      bad.delete() // only if now empty
    }

    // FileContext path: ChecksumFs. FileContext.open(path) takes FilterFs's
    // one-argument open straight to the raw store and verifies nothing,
    // with Hadoop's own LocalFs too; the sized open is the checked one.
    val fc = FileContext.getLocalFSFileContext(conf)
    val viaFc = new File(root, "via-fc.bin")
    val fout = fc.create(new Path(viaFc.toURI), EnumSet.of(CreateFlag.CREATE))
    try fout.write(bytes) finally fout.close()
    assert(new File(root, ".via-fc.bin.crc").isFile)
    val afs = fc.getDefaultFileSystem
    readAll(afs.open(new Path(viaFc.toURI), 4096))
    corrupt(viaFc)
    intercept[ChecksumException](readAll(afs.open(new Path(viaFc.toURI), 4096)))
  }

  test("a parquet write and a streaming micro-batch start no chmod process") {
    val spark = TestSpark.spark
    val root = newRoot()
    val commands = new ConcurrentLinkedQueue[String]
    val marker = s"graft-localfs-census-${System.nanoTime}"
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => commands.add(e.getString("command")))
      rs.startAsync()

      spark.range(1000).selectExpr("id", "id % 7 AS k")
        .write.partitionBy("k").parquet(new File(root, "pq").toString)

      import spark.implicits._
      implicit val sq = spark.sqlContext
      val in = MemoryStream[Long]
      val q = in.toDF().writeStream.format("parquet")
        .option("checkpointLocation", new File(root, "ckpt").toString)
        .option("path", new File(root, "stream").toString)
        .start()
      try { in.addData(1L, 2L, 3L); q.processAllAvailable() } finally q.stop()
      assert(spark.read.parquet(new File(root, "stream").toString).count() == 3)
      assert(new File(root, "ckpt/commits/0").isFile)

      // the census must be able to see a chmod: Hadoop's own class forks one
      val probe = new File(root, "probe")
      assert(probe.createNewFile())
      rawFs(new RawLocalFileSystem)
        .setPermission(new Path(probe.toURI), new FsPermission(octal("644")))
      // events arrive in order, so once the marker is seen every earlier
      // start has been delivered
      new ProcessBuilder("true", marker).start().waitFor()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!commands.asScala.exists(_.contains(marker)) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(commands.asScala.exists(_.contains(marker)), "JFR delivered no marker event")
    } finally rs.close()
    def started(cmd: String) = commands.asScala.toSeq
      .filter(c => Paths.get(c.split(" ")(0)).getFileName.toString == cmd)
    val chmods = started("chmod")
    assert(chmods.size == 1 && chmods.head.contains(new File(root, "probe").getCanonicalPath),
      chmods.mkString("\n"))
    // the micro-batch's checkpoint commits rename through FileContext
    assert(started("readlink").isEmpty, started("readlink").mkString("\n"))
  }

  test("link status and link target match the stock RawLocalFileSystem's") {
    val stock = rawFs(new RawLocalFileSystem)
    val posix = rawFs(new PosixRawLocalFileSystem)
    val root = newRoot()
    val target = new File(root, "target.txt")
    Files.write(target.toPath, "abc".getBytes("UTF-8"))
    val link = new File(root, "link.txt")
    Files.createSymbolicLink(link.toPath, target.toPath)
    def status(fs: RawLocalFileSystem, p: Path) = {
      val st = fs.getFileLinkStatus(p)
      (st.getPath, st.isSymlink, if (st.isSymlink) st.getSymlink else null,
        st.isDirectory, st.getLen, st.getModificationTime)
    }
    for (f <- Seq(link, target, root); p <- Seq(new Path(f.getPath), new Path(f.toURI)))
      assert(status(posix, p) == status(stock, p), p)
    assert(status(posix, new Path(link.getPath))._2)
    assert(posix.getLinkTarget(new Path(link.getPath)) ==
      stock.getLinkTarget(new Path(link.getPath)))
    intercept[java.io.FileNotFoundException](
      posix.getFileLinkStatus(new Path(new File(root, "absent").getPath)))
  }
}
