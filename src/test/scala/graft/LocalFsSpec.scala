package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.ops.{Artifacts, Hrfco, Thresholds}
import graft.sinks.Sinks

/** `graft.util`'s local file system gives every file and directory the
  * mode, and every path the link status, that Hadoop's own gives it, and
  * graft sessions use it: their writes start no process. */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def scratchDir(prefix: String): java.nio.file.Path = {
    val b = new java.io.File("target/test-out").getAbsoluteFile.toPath
    Files.createDirectories(b)
    Files.createTempDirectory(b, prefix)
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def octal(mode: String): Int = Integer.parseInt(mode, 8)

  /** Hadoop's and graft's raw local file systems. */
  private def raws(): (FileSystem, FileSystem) = {
    val (hadoop, graftFs) = (new org.apache.hadoop.fs.RawLocalFileSystem, new graft.util.RawLocalFileSystem)
    hadoop.initialize(root, new Configuration())
    graftFs.initialize(root, new Configuration())
    (hadoop, graftFs)
  }

  /** The modes of every path under `dir`, by relative path. */
  private def modes(dir: java.nio.file.Path): Map[String, Int] = {
    val s = Files.walk(dir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => dir.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  test("files and directories get the modes Hadoop's local file system gives them") {
    // (umask, file mode, directory mode)
    val umasks = Seq((None, octal("644"), octal("755")), (Some("077"), octal("600"), octal("700")))
    umasks.foreach { case (umask, file, dir) =>
      val c = conf(umask)
      val dirPerm = FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(c))
      val made = Seq[(String, FileSystem, Class[_ <: AbstractFileSystem])](
        ("hadoop", new org.apache.hadoop.fs.LocalFileSystem, classOf[org.apache.hadoop.fs.local.LocalFs]),
        ("graft", new graft.util.LocalFileSystem, classOf[graft.util.LocalFs])
      ).map { case (name, fs, afs) =>
        val base = scratchDir(s"modes-$name")
        // the FileSystem face: a create (with its checksum file) and a
        // four-level mkdirs, as the sinks and artifacts make them
        fs.initialize(root, c)
        fs.create(new Path(s"$base/fs/file")).close()
        fs.mkdirs(new Path(s"$base/fs/a/b/c/d"), dirPerm)
        // the FileContext face, as the checkpoint's logs make them
        val fcConf = new Configuration(c)
        fcConf.set("fs.AbstractFileSystem.file.impl", afs.getName)
        val fc = FileContext.getFileContext(root, fcConf)
        assert(fc.getDefaultFileSystem.getClass === afs)
        fc.mkdir(new Path(s"$base/fc/dir"), FsPermission.getDirDefault, true)
        fc.create(new Path(s"$base/fc/dir/file"), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent()).close()
        fc.rename(new Path(s"$base/fc/dir/file"), new Path(s"$base/fc/dir/renamed"),
          Options.Rename.OVERWRITE)
        val m = modes(base)
        assert(m("fs/file") === file && m("fs/.file.crc") === file, s"$name, umask $umask: $m")
        assert(m("fs/a/b/c/d") === dir, s"$name, umask $umask: $m")
        assert(m("fc/dir") === dir && m("fc/dir/renamed") === file, s"$name, umask $umask: $m")
        m
      }
      assert(made(0) === made(1), s"umask $umask")
    }
  }

  test("getFileLinkStatus reports what Hadoop's reports, links and missing paths included") {
    val dir = scratchDir("links")
    Files.write(dir.resolve("file"), "abc".getBytes)
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val (hadoop, graftFs) = raws()
    def status(fs: FileSystem, p: Path) =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getModificationTime,
          s.getPermission, s.getOwner, s.getGroup))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    for (name <- Seq("file", "dir", "missing", "link", "dangling");
         qualified <- Seq(false, true)) {
      val plain = new Path(dir.resolve(name).toString)
      val p = if (qualified) hadoop.makeQualified(plain) else plain
      val expected = status(hadoop, p)
      assert(status(graftFs, p) === expected, s"$p")
      // Hadoop reads a link at the path's string: only the plain form finds it
      if (!qualified && name == "link")
        assert(expected.exists(s => s._4 && s._5.contains(hadoop.makeQualified(
          new Path(dir.resolve("file").toString)))), s"$expected")
      if (name == "missing" || (qualified && name == "dangling"))
        assert(expected === Left(classOf[FileNotFoundException].getName))
    }
  }

  test("a sticky-bit mode applies, and a setgid directory keeps its bit as under Hadoop") {
    val dir = scratchDir("special")
    val (hadoop, graftFs) = raws()
    val sticky = dir.resolve("sticky")
    Files.createDirectory(sticky)
    graftFs.setPermission(new Path(sticky.toString), new FsPermission(octal("1777").toShort))
    assert(mode(sticky) === octal("1777"))
    // `chmod` with a four-digit mode keeps a directory's setgid bit
    val setgid = Seq(hadoop, graftFs).map { fs =>
      val d = Files.createDirectory(dir.resolve(s"setgid-${fs.getClass.getName}"))
      assert(new ProcessBuilder("chmod", "2755", d.toString).start().waitFor() === 0)
      fs.setPermission(new Path(d.toString), new FsPermission(octal("750").toShort))
      mode(d)
    }
    assert(setgid === Seq.fill(2)(octal("2750")))
  }

  test("the shared session resolves file: paths to graft's local file system") {
    // FileSystem.get caches per scheme, not per conf: a Hadoop
    // LocalFileSystem built earlier in the JVM would be handed back here
    val conf = spark.sessionState.newHadoopConf()
    val dir = scratchDir("resolve").toString
    assert(new Path(dir).getFileSystem(conf).getClass === classOf[graft.util.LocalFileSystem])
    assert(FileContext.getFileContext(new Path(dir).toUri, conf).getDefaultFileSystem.getClass ===
      classOf[graft.util.LocalFs])
    // Hadoop confs are not SQL confs: Tables.load cannot set them on a
    // session built without Tables.configured
    assert(!spark.conf.isModifiable("spark.hadoop.fs.file.impl"))
  }

  test("an artifact build and an archive compaction start no process") {
    val dir = scratchDir("forks").toString
    // 200 events over four station types; ids that are multiples of 107 fail to parse
    val stations = array(Seq("click", "purchase", "view", "signup").map(lit): _*)
    val ev = Tables.normalizeEvents(spark.range(1, 201).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1765290600L) + col("id") * 60).cast("timestamp_ntz").as("ts"),
      (col("id") % 50).as("user_id"),
      element_at(stations, (col("id") % 4 + 1).cast("int")).as("event_type"),
      (col("id") % 250).cast("double").as("value"),
      format_string("{\"k\": \"%d.5\"}", col("id") % 9).as("props")))
    val classified = Hrfco.pipeline(ev, Thresholds.fromEvents(ev),
      tsFallback = to_timestamp(lit("1970-01-01")), wlMax = 300.0)
    val now = to_timestamp(lit("2026-03-04 05:06:07"))
    var rows = (0L, 0L)
    val forks = ProcessStarts.fromHadoopFs {
      val artifact = Artifacts.parquetArtifact(spark, s"$dir/artifact")(spark.range(100).toDF("id"))
      Sinks.writeArchive(classified, s"$dir/archive", now)
      Sinks.writeArchive(classified, s"$dir/archive", now)
      Sinks.compactArchive(spark, s"$dir/archive")
      rows = (artifact.count(), Sinks.readArchive(spark, s"$dir/archive").count())
    }
    assert(rows === (100L, classified.count() * 2))
    assert(forks.size === 0, s"processes started, e.g. ${forks.take(3)}")
  }
}
