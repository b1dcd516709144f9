package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the engine's local file system ([[NioRawLocalFileSystem]] and
  * its two checksummed wrappers): the classpath `core-site.xml` must
  * install it for every Hadoop configuration, its java.nio answers must
  * equal stock [[RawLocalFileSystem]]'s (the stock class serves only as
  * this spec's reference), and the `.crc` integrity layer must survive
  * on the checkpoint files Spark writes through it. */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[1]")
    .config("spark.sql.shuffle.partitions", "1")
    .config("spark.ui.enabled", "false")
    .appName("localfs-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val local = URI.create("file:///")

  test("the classpath core-site.xml serves file: through the engine's " +
      "file system on both Hadoop APIs") {
    val fs = FileSystem.get(local, new Configuration())
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(new Configuration()).getRaw
      .isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getLocalFSFileContext.getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
    // Spark's sessions read the same defaults
    assert(FileSystem.get(local, spark.sessionState.newHadoopConf())
      .isInstanceOf[NioLocalFileSystem])
  }

  test("len, type, permission, owner, link target and a missing path " +
      "match stock RawLocalFileSystem") {
    val conf = new Configuration()
    val nio = new NioRawLocalFileSystem
    nio.initialize(local, conf)
    val stock = new RawLocalFileSystem
    stock.initialize(local, conf)
    val dir = new Path(Files.createTempDirectory("localfs-parity").toString)
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory,
      s.isSymlink, s.getPermission, s.getOwner, s.getGroup,
      s.getModificationTime, s.getBlockSize, s.getReplication)
    def same(p: Path): Unit =
      assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)),
        s"getFileStatus($p)")

    val file = new Path(dir, "data")
    val out = nio.create(file)
    out.write(Array.fill[Byte](1000)(7)); out.close()
    val sub = new Path(dir, "sub")
    assert(nio.mkdirs(sub))
    // scheme-less and qualified spellings of each path
    for (p <- Seq(dir, file, sub); q <- Seq(p, nio.makeQualified(p))) same(q)
    assert(nio.getFileStatus(file).getLen == 1000)
    assert(nio.getFileStatus(sub).isDirectory)

    // a permission set through either class reads back through both
    for ((fs, mode) <- Seq(nio -> "640", stock -> "604", nio -> "755")) {
      fs.setPermission(file, new FsPermission(mode))
      assert(nio.getFileStatus(file).getPermission == new FsPermission(mode))
      same(file)
    }
    nio.setPermission(sub, new FsPermission("750"))
    assert(nio.getFileStatus(sub).getPermission == new FsPermission("750"))
    same(sub)
    // mkdirs with a permission: both classes make the same directory
    val (m1, m2) = (new Path(dir, "m1"), new Path(dir, "m2"))
    assert(nio.mkdirs(m1, new FsPermission("711")))
    assert(stock.mkdirs(m2, new FsPermission("711")))
    same(m1); same(m2)
    assert(nio.getFileStatus(m1).getPermission ==
      stock.getFileStatus(m2).getPermission)
    assert(nio.listStatus(dir).map(fields).sortBy(_._1.toString).toSeq ==
      stock.listStatus(dir).map(fields).sortBy(_._1.toString).toSeq)

    // links (scheme-less: the stock class runs `readlink` on the path
    // string, so it sees a link only there)
    val link = new Path(dir, "link")
    Files.createSymbolicLink(Paths.get(link.toString), Paths.get("data"))
    val dangling = new Path(dir, "dangling")
    Files.createSymbolicLink(Paths.get(dangling.toString),
      Paths.get("nowhere"))
    for (l <- Seq(link, dangling)) {
      val (a, b) = (nio.getFileLinkStatus(l), stock.getFileLinkStatus(l))
      assert(a.isSymlink && b.isSymlink, l)
      assert(fields(a) == fields(b), s"getFileLinkStatus($l)")
      assert(a.getSymlink == b.getSymlink)
      assert(nio.getLinkTarget(l) == stock.getLinkTarget(l))
    }
    assert(nio.getLinkTarget(link) == new Path("data"))
    same(link) // a status through a link is its target's
    for (l <- Seq(file, sub))
      assert(fields(nio.getFileLinkStatus(l)) == fields(stock.getFileLinkStatus(l)))

    val missing = Seq(new Path(dir, "missing"), new Path(file, "under-a-file"))
    for (fs <- Seq(nio, stock); p <- missing :+ dangling) {
      intercept[FileNotFoundException](fs.getFileStatus(p))
      if (p != dangling) intercept[FileNotFoundException](fs.getFileLinkStatus(p))
    }
  }

  test("checkpoint files keep their .crc sidecars and a flipped byte " +
      "fails the read") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = Files.createTempDirectory("localfs-ckpt")
    val mem = MemoryStream[Int]
    val q = mem.toDF().writeStream.format("memory").queryName("localfs_crc")
      .option("checkpointLocation", ckpt.toString).start()
    try { mem.addData(1, 2, 3); q.processAllAvailable() } finally q.stop()
    for (log <- Seq("offsets", "commits"))
      assert(Files.exists(ckpt.resolve(log).resolve(".0.crc")), log)

    val offset = ckpt.resolve("offsets").resolve("0")
    val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
    // open(path, bufferSize) is the checksummed read; open(path) goes
    // straight to the raw file system, in the stock classes too
    def read(): Array[Byte] = {
      val in = fc.open(new Path(offset.toUri), 4096)
      try in.readAllBytes() finally in.close()
    }
    assert(read().sameElements(Files.readAllBytes(offset)))
    val bytes = Files.readAllBytes(offset)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(offset, bytes)
    intercept[ChecksumException](read())
  }
}
