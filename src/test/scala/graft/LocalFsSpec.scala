package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem, Sinks}
import graft.streaming.StreamingFeatures

/** The `file:` filesystem graft registers: same bits and link statuses as
  * Hadoop's, on every session, and no process spawned by a checkpointed
  * streaming query.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Root = URI.create("file:///")
  private val Modes = Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff) // 0600 0644 0700 0755 0777

  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  private def stockConf: Configuration = {
    val c = new Configuration(hadoopConf)
    c.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    c
  }

  private def bits(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** `mode`'s low nine bits in `ls` form, e.g. 0x1a4 → "rw-r--r--". */
  private def rwx(mode: Int): String =
    (8 to 0 by -1).map(b => if ((mode & (1 << b)) == 0) '-' else "rwx"((8 - b) % 3)).mkString

  private def tempDir(prefix: String): JPath = Files.createTempDirectory(prefix)

  test("files and directories carry the bits Hadoop's stock local filesystem sets") {
    val graftFs = FileSystem.get(Root, hadoopConf)
    assert(graftFs.isInstanceOf[GraftLocalFileSystem], graftFs.getClass)
    val stockFs = new LocalFileSystem(new RawLocalFileSystem)
    stockFs.initialize(Root, stockConf)
    val graftFc = FileContext.getFileContext(Root, hadoopConf)
    val stockFc = FileContext.getFileContext(Root, stockConf)
    assert(graftFc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    assert(!stockFc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])

    /** Makes one file, its `.crc`, one directory, and re-chmods the file,
      * all at `mode`, under `root`; returns each path's bits by name.
      */
    def viaFs(fs: FileSystem, root: JPath, mode: Int): Map[String, String] = {
      val perm = new FsPermission(mode.toShort)
      val file = new Path(root.toUri.toString, "f")
      val out = fs.create(file, perm, true, 4096, 1.toShort, 1L << 20, null)
      out.write(Array[Byte](1, 2, 3)); out.close()
      fs.mkdirs(new Path(root.toUri.toString, "d"), perm)
      val chmodded = new Path(root.toUri.toString, "g")
      fs.create(chmodded).close()
      fs.setPermission(chmodded, perm)
      Seq("f", ".f.crc", "d", "g").map(n => n -> bits(root.resolve(n))).toMap
    }
    def viaFc(fc: FileContext, root: JPath, mode: Int): Map[String, String] = {
      val perm = new FsPermission(mode.toShort)
      val file = new Path(root.toUri.toString, "f")
      val out = fc.create(file, java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm))
      out.write(Array[Byte](1, 2, 3)); out.close()
      fc.mkdir(new Path(root.toUri.toString, "d"), perm, true)
      val renamed = new Path(root.toUri.toString, "r")
      fc.rename(file, renamed, Options.Rename.OVERWRITE)
      Seq("r", ".r.crc", "d").map(n => n -> bits(root.resolve(n))).toMap
    }

    for (mode <- Modes) {
      val m = f"0${mode}%o"
      val fs = (viaFs(graftFs, tempDir("graftfs"), mode), viaFs(stockFs, tempDir("stockfs"), mode))
      assert(fs._1 == fs._2, s"FileSystem at $m: graft ${fs._1} vs stock ${fs._2}")
      assert(fs._1("g") == rwx(mode), s"chmod $m: ${fs._1("g")}")
      val fc = (viaFc(graftFc, tempDir("graftfc"), mode), viaFc(stockFc, tempDir("stockfc"), mode))
      assert(fc._1 == fc._2, s"FileContext at $m: graft ${fc._1} vs stock ${fc._2}")
    }
  }

  test("getFileLinkStatus keeps Hadoop's contract on files, directories and symlinks") {
    val dir = tempDir("links")
    Files.write(dir.resolve("f"), Array[Byte](1, 2, 3, 4, 5))
    Files.createDirectory(dir.resolve("d"))
    Files.createSymbolicLink(dir.resolve("l"), Paths.get("f"))
    Files.createSymbolicLink(dir.resolve("x"), Paths.get("missing"))
    val fs = new GraftRawLocalFileSystem
    fs.initialize(Root, hadoopConf)
    // Hadoop's own method sees symlinks only given a scheme-less path
    // (it runs `readlink` on Path.toString); there it is the reference.
    val stock = new RawLocalFileSystem
    stock.initialize(Root, hadoopConf)
    def q(n: String) = new Path(dir.resolve(n).toUri.toString)
    def bare(n: String) = new Path(dir.resolve(n).toString)

    val f = fs.getFileLinkStatus(q("f"))
    assert(f.isFile && !f.isSymlink && f.getLen == 5)
    val d = fs.getFileLinkStatus(q("d"))
    assert(d.isDirectory && !d.isSymlink)

    val l = fs.getFileLinkStatus(q("l"))
    assert(l.isSymlink && l.getPath == q("l") && l.getLen == 5)
    assert(l.getSymlink == q("f"), "the target comes back qualified")
    assert(fs.getLinkTarget(q("l")) == new Path("f"), "getLinkTarget is the raw target")
    val x = fs.getFileLinkStatus(q("x"))
    assert(x.isSymlink && x.getPath == q("x") && x.getSymlink == q("missing") && x.getLen == 0)

    for (n <- Seq("f", "d", "l", "x")) {
      val (g, s) = (fs.getFileLinkStatus(q(n)), stock.getFileLinkStatus(bare(n)))
      assert((g.isSymlink, g.isDirectory, g.getLen) == ((s.isSymlink, s.isDirectory, s.getLen)), n)
      if (s.isSymlink) assert(g.getSymlink == s.getSymlink, n)
    }
    intercept[java.io.IOException](fs.getLinkTarget(q("f")))
    intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(q("nothing")))

    // through FileContext, which resolves the target via getLinkTarget
    val fc = FileContext.getFileContext(Root, hadoopConf)
    assert(fc.getFileLinkStatus(q("l")).getSymlink == q("f"))
    assert(fc.getLinkTarget(q("x")) == new Path("missing"))
  }

  test("file: resolves to the graft classes in a built session and in a plain one through tune") {
    def resolved(c: Configuration): (Class[_], Class[_], Class[_]) = {
      val fs = FileSystem.newInstance(Root, c)
      try (FileSystem.getFileSystemClass("file", c), fs.getClass,
        AbstractFileSystem.get(Root, c).getClass)
      finally fs.close()
    }
    val graft = (classOf[GraftLocalFileSystem], classOf[GraftLocalFileSystem], classOf[GraftLocalFs])
    assert(resolved(hadoopConf) == graft)
    assert(FileSystem.get(Root, hadoopConf).isInstanceOf[GraftLocalFileSystem])

    // A session from a plain builder on the shared context, with that
    // context's Hadoop configuration first put back to Hadoop's defaults.
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val defaults = new Configuration()
      GraftLocalFs.Impls.foreach { case (k, _) =>
        Option(defaults.get(k)).fold(hadoopConf.unset(k))(hadoopConf.set(k, _))
      }
      val plain = SparkSession.builder().master("local[4]").getOrCreate()
      assert(plain ne spark)
      val c = plain.sparkContext.hadoopConfiguration
      val before = resolved(c)
      assert(before._1 != classOf[GraftLocalFileSystem] &&
        before._3 == classOf[org.apache.hadoop.fs.local.LocalFs], before)
      GraftSession.tune(plain)
      assert(resolved(c) == graft)
    } finally {
      GraftLocalFs.register(hadoopConf)
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prev.foreach { s => SparkSession.setDefaultSession(s); SparkSession.setActiveSession(s) }
    }
  }

  private type Click = (String, Timestamp, String)
  private val Start = 1704067200000L // 2024-01-01T00:00Z, a 20-minute boundary
  private val WindowMs = 20 * 60 * 1000L
  private val Key = DateTimeFormatter.ofPattern("yyyyMMddHHmm").withZone(ZoneOffset.UTC)

  /** Batch `b` of the seeded clickstream: 300 rows, in event-time order
    * across batches, so the 5 s watermark drops nothing.
    */
  private def clicks(b: Int): Seq[Click] = {
    val rnd = new scala.util.Random(17 + b)
    (0 until 300).map { i =>
      (s"u${rnd.nextInt(40)}", new Timestamp(Start + b * 3600000L + i * 11000L + rnd.nextInt(3000)),
        if (rnd.nextInt(5) == 0) "click" else "view")
    }
  }

  /** The sinks' expected content, without Spark: 20-minute tumbling
    * windows keyed by their end.
    */
  private def expected(rows: Seq[Click]): Set[(String, String, Long, Long)] =
    rows.groupBy { case (u, t, _) => (u, (t.getTime - Start) / WindowMs) }.map { case ((u, w), rs) =>
      (u, Key.format(Instant.ofEpochMilli(Start + (w + 1) * WindowMs)),
        rs.count(_._3 == "click").toLong, rs.count(_._3 == "view").toLong)
    }.toSet

  test("a checkpointed feature pipeline spawns no Hadoop shell process and restarts exactly") {
    Sinks.InMemoryKV.clear()
    val ckpt = tempDir("localfs_ckpt").toString
    val stream = MemoryStream[Click](spark)
    TestSpark.withFeatureTable("localfs") { url =>
      def start() = StreamingFeatures.featurePipeline(
        stream.toDF().toDF("uuid", "event_time", "tag"), url, TestSpark.FeatureTable,
        Sinks.InMemoryKV).option("checkpointLocation", ckpt).start()
      // the far-future row closes every window of the three batches
      val sentinel: Click = ("__sentinel__", new Timestamp(Start + 90L * 86400000), "click")

      val rec = new Recording()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val (events, marker) = try {
        val q1 = start()
        try Seq(0, 1).foreach { b => stream.addData(clicks(b)); q1.processAllAvailable() }
        finally q1.stop() // the restart: batches 0 and 1 are committed in ckpt
        stream.addData(clicks(2) :+ sentinel)
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
        // a control: one stock chmod, which the recording must see
        val marker = Files.createTempFile("spawn_marker", "")
        val stock = new RawLocalFileSystem
        stock.initialize(Root, new Configuration())
        stock.setPermission(new Path(marker.toUri.toString), new FsPermission(0x1c0.toShort))
        rec.stop()
        val f = Files.createTempFile("spawns", ".jfr")
        rec.dump(f)
        (RecordingFile.readAllEvents(f).asScala.toSeq, marker.getFileName.toString)
      } finally rec.close()

      def viaShell(e: jdk.jfr.consumer.RecordedEvent) = Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
      val (control, during) = events.filter(_.getEventType.getName == "jdk.ProcessStart")
        .partition(_.getString("command").contains(marker))
      assert(control.exists(viaShell), "the recording saw no spawn from the stock chmod")
      val spawned = during.filter(viaShell).map(_.getString("command"))
      val nSpawned = spawned.size
      assert(nSpawned == 0, s"Hadoop shell spawns, e.g. ${spawned.take(3)}")

      val want = expected((0 to 2).flatMap(clicks))
      val derby = TestSpark.featureTableRows(url)
      assert(derby == want, s"derby ${derby.size} rows vs ${want.size}: ${(derby diff want).take(3)}")
      val kv = Sinks.InMemoryKV.data.toMap
      assert(kv == want.map { case (u, w, c, v) =>
        s"feat:user:{$u}:$w" -> Map("click20m" -> c.toString, "view20m" -> v.toString)
      }.toMap, s"kv ${kv.size} keys vs ${want.size}")
      Sinks.InMemoryKV.clear()
    }
  }
}
