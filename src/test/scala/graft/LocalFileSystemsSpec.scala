package graft

import java.net.{URI, URLEncoder}
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFs, PointerFile}
import graft.pipeline.Pipeline
import graft.sources.SourceRegistry
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, LocalFileSystem, Options, Path,
  UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission

/** graft binds the `file:` scheme to its fork-free local filesystem
  * (`graft.io.LocalFileSystems`). It must behave like stock Hadoop's
  * `LocalFileSystem`/`LocalFs`, and a CLI run on it must start no Hadoop
  * shell process: no `chmod` per create/mkdir, no `readlink` per
  * link-status check, no `ls`/`stat` per permission read. */
class LocalFileSystemsSpec extends SparkSpec {

  private val Root = URI.create("file:///")

  /** A fresh (uncached) stock or graft `file:` FileSystem. */
  private def fileSystem(graftFs: Boolean, conf: Configuration = new Configuration()): FileSystem = {
    val fs = if (graftFs) new NioLocalFileSystem else new LocalFileSystem
    fs.initialize(Root, conf)
    fs
  }

  /** A FileContext over a fresh stock (`LocalFs`) or graft `file:` AbstractFileSystem. */
  private def fileContext(graftFs: Boolean): FileContext = {
    val conf = new Configuration()
    if (graftFs) conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val fc = FileContext.getFileContext(Root, conf)
    assert(fc.getDefaultFileSystem.getClass.getSimpleName == (if (graftFs) "NioLocalFs" else "LocalFs"))
    fc
  }

  /** The permission and file-type bits of `p`, as `stat` reports them. */
  private def mode(p: Path): Int =
    java.nio.file.Files.getAttribute(java.nio.file.Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int]

  private def tempDir(): Path = new Path(Files.createTempDirectory("graft-localfs").toString)

  /** `ops` on a fresh directory for stock Hadoop and for graft's
    * filesystem; both must report the same. */
  private def sameAsStock[A](ops: (Boolean, Path) => A): A = {
    val stock = ops(false, tempDir())
    val nio = ops(true, tempDir())
    assert(nio == stock, s"graft=$nio stock=$stock")
    nio
  }

  test("create and mkdirs set the mode bits stock Hadoop sets: default umask, explicit modes, umask 077") {
    def perm(m: Int) = new FsPermission(m.toShort)
    for (umask <- Seq(None, Some("077"))) {
      val modes = sameAsStock { (graftFs, dir) =>
        val conf = new Configuration()
        umask.foreach(conf.set("fs.permissions.umask-mode", _))
        val fs = fileSystem(graftFs, conf)
        fs.create(new Path(dir, "default")).close()
        fs.create(new Path(dir, "explicit"), perm(0x180), true, 4096, 1.toShort, 1L << 20, null).close() // 0600
        fs.mkdirs(new Path(dir, "d/e"), perm(0x1e8)) // 0750 on the leaf only
        fs.mkdirs(new Path(dir, "plain"))
        val set = new Path(dir, "set")
        fs.create(set).close()
        fs.setPermission(set, perm(0x1e8)) // setPermission applies no umask
        Seq("default", "explicit", "d", "d/e", "plain", "set", ".default.crc")
          .map(n => n -> (mode(new Path(dir, n)) & 0xfff))
      }
      if (umask.isEmpty)
        assert(modes.toMap.view.mapValues(_.toOctalString).toMap ==
          Map("default" -> "644", "explicit" -> "600", "d" -> "755", "d/e" -> "750", "plain" -> "755",
            "set" -> "750", ".default.crc" -> "644"))
    }
  }

  test("a sticky bit goes to the stock chmod and lands") {
    val m = sameAsStock { (graftFs, dir) =>
      fileSystem(graftFs).setPermission(dir, new FsPermission(0x3ff.toShort)) // 01777
      mode(dir) & 0xfff
    }
    assert(m == 0x3ff)
  }

  test(".crc sidecars are written and verified the same way") {
    sameAsStock { (graftFs, dir) =>
      val fs = fileSystem(graftFs)
      val f = new Path(dir, "data")
      val out = fs.create(f)
      out.write("graft".getBytes("UTF-8"))
      out.close()
      val crc = fs.exists(new Path(dir, ".data.crc"))
      val other = fileSystem(!graftFs) // each reads what the other wrote
      val in = other.open(f)
      val back = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      java.nio.file.Files.write(java.nio.file.Paths.get(f.toUri.getPath), "graff".getBytes("UTF-8"))
      val corrupt = scala.util.Try { val in = fs.open(f); try in.readAllBytes() finally in.close() }
      (crc, back, corrupt.failed.toOption.map(_.isInstanceOf[ChecksumException]))
    }
  }

  test("FileContext.rename with OVERWRITE replaces the destination and moves its crc") {
    sameAsStock { (graftFs, dir) =>
      val fc = fileContext(graftFs)
      def write(p: Path, s: String): Unit = {
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try out.write(s.getBytes("UTF-8")) finally out.close()
      }
      val (src, dst) = (new Path(dir, "src"), new Path(dir, "dst"))
      write(src, "new content")
      write(dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst) // verifies against the moved crc
      val back = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val names = new java.io.File(dir.toUri.getPath).list().toSeq.sorted
      (back, names, fc.util.exists(src))
    }
  }

  test("an OVERWRITE rename of a file deletes no destination: its old crc goes first, then one rename(2) each") {
    val dir = tempDir()
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]
    /** graft's raw AbstractFileSystem, logging the deletes and renames
      * the checksummed layer asks of it. */
    class Logged(conf: Configuration) extends NioRawLocalFs(conf) {
      override def delete(f: Path, recursive: Boolean): Boolean = {
        ops += s"delete ${f.getName}"
        super.delete(f, recursive)
      }
      override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
        ops += s"rename ${src.getName} ${dst.getName}"
        super.renameInternal(src, dst, overwrite)
      }
    }
    val conf = new Configuration()
    val fc = FileContext.getFileContext(new NioLocalFs(new Logged(conf)), conf)
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    val (src, dst) = (new Path(dir, "src"), new Path(dir, "dst"))
    write(src, "new content")
    write(dst, "old")
    ops.clear()
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    // the stock AbstractFileSystem rename would log "delete dst" between the two renames
    assert(ops == Seq("delete .dst.crc", "rename src dst", "rename .src.crc .dst.crc"), ops)
    val in = fc.open(dst)
    assert((try new String(in.readAllBytes(), "UTF-8") finally in.close()) == "new content")
    assert(new java.io.File(dir.toUri.getPath).list().toSeq.sorted == Seq(".dst.crc", "dst"))
  }

  test("PointerFile publishes through FileSystem on a store with no FileContext binding; read serves a cut flip's temp file") {
    val ptr = new Path(tempDir(), "_LATEST")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.unset("fs.AbstractFileSystem.file.impl")
    assert(scala.util.Try(FileContext.getFileContext(ptr.toUri, conf)).failed.toOption
      .exists(_.isInstanceOf[UnsupportedFileSystemException]))
    val fs = ptr.getFileSystem(conf)
    assert(PointerFile.read(ptr, conf).isEmpty)
    PointerFile.stage(ptr, "", conf) // a first publish cut inside its write
    assert(PointerFile.read(ptr, conf).isEmpty)
    PointerFile.publish(ptr, "gen-0", conf)
    PointerFile.publish(ptr, "gen-1", conf)
    assert(PointerFile.read(ptr, conf).contains("gen-1") && !fs.exists(PointerFile.staging(ptr)))
    // a flip cut between its delete and its rename
    fs.delete(ptr, false)
    PointerFile.stage(ptr, "gen-2", conf)
    assert(PointerFile.read(ptr, conf).contains("gen-2"))
    PointerFile.publish(ptr, "gen-3", conf)
    assert(PointerFile.read(ptr, conf).contains("gen-3") && !fs.exists(PointerFile.staging(ptr)))
  }

  test("getFileLinkStatus reports a symlink and a dangling symlink as stock Hadoop does") {
    val got = sameAsStock { (graftFs, dir) =>
      val target = new Path(dir, "target")
      val fs = fileSystem(graftFs)
      fs.create(target).close()
      def link(name: String, to: Path): Path = {
        val l = new Path(dir, name)
        java.nio.file.Files.createSymbolicLink(java.nio.file.Paths.get(l.toUri.getPath),
          java.nio.file.Paths.get(to.toUri.getPath))
        l
      }
      val live = link("live", target)
      val dangling = link("dangling", new Path(dir, "missing"))
      def status(p: Path) = scala.util.Try(fs.getFileLinkStatus(p)).map { s =>
        (s.isSymlink, if (s.isSymlink) Some(s.getSymlink.toUri.getPath.stripPrefix(dir.toUri.getPath)) else None,
          s.isFile)
      }.recover { case e: java.io.FileNotFoundException => ("missing", e.getClass.getSimpleName) }.get
      Seq(target, live, dangling, new Path(dir, "missing")).map(status)
    }
    assert(got(1) == ((true, Some("/target"), false)) && got(2) == ((true, Some("/missing"), false)), got)
  }

  private val ShellCommands = Set("chmod", "readlink", "ls", "stat")

  /** The command of every process the JVM starts while `body` runs,
    * recorded as JFR `jdk.ProcessStart` events, each with its innermost
    * graft/hadoop/spark frame. */
  private def processStarts(dir: JPath)(body: => Unit): Seq[(String, String)] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = dir.resolve("process-starts.jfr")
    rec.dump(file)
    rec.close()
    RecordingFile.readAllEvents(file).asScala.toSeq.map { e =>
      val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
      val site = frames.map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        .find(m => m.startsWith("org.apache.") || m.startsWith("graft.")).getOrElse("?")
      (e.getString("command"), site)
    }
  }

  private def cli(args: String*): Unit = {
    val (p, _) = Pipeline.fromArgs(args)
    assert(p.run(spark), s"pipeline failed: ${args.mkString(" ")}")
  }

  test("the session's file: FileSystem and FileContext are graft's, and both CLI builders bind them") {
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hconf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), hconf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
    graft.io.LocalFileSystems.sparkConfigs.foreach { case (k, v) =>
      assert(SourceRegistry.sparkConfigs.get(k).contains(v), k)
      assert(spark.sparkContext.getConf.get(k) == v, k)
    }
  }

  test("a CLI run (parquet/csv/jsonfile writes, a 2-batch parquet-stream drain, a restart) starts no Hadoop shell") {
    val dir = Files.createTempDirectory("graft-forks")
    def at(name: String) = dir.resolve(name).toString
    val starts = processStarts(dir) {
      cli("--source", "synth:///?rows=2000&partitions=2",
        "--sink", s"parquet://${at("in")}",
        "--sink", s"csv://${at("csv")}",
        "--sink", s"jsonfile://${at("json")}")
      val schema = URLEncoder.encode(spark.read.parquet(at("in")).schema.json, "UTF-8")
      def drain(): Long = {
        cli("--source", s"parquet-stream://${at("in")}?schema=$schema&maxFilesPerTrigger=1",
          "--sink", s"parquet-stream://${at("out")}?checkpointLocation=${at("ckpt")}")
        val q = spark.streams.active.head
        try q.processAllAvailable() finally q.stop()
        q.recentProgress.count(_.numInputRows > 0).toLong
      }
      assert(drain() == 2L)
      // one more file, then the same pipeline resumes from the checkpoint
      cli("--source", "synth:///?rows=500&partitions=1", "--sink", s"parquet://${at("in")}?mode=append")
      assert(drain() == 1L)
      assert(spark.read.parquet(at("out")).count() == 2500L)
    }
    starts.foreach { case (c, site) => println(s"[process-start] $site: $c") }
    val shell = starts.filter { case (c, _) => ShellCommands.contains(c.split(' ').head.split('/').last) }
    assert(shell.isEmpty, shell.mkString("\n"))
  }
}
