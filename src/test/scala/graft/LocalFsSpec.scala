package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.{CanalJson, CdcApply}
import graft.streaming.CdcPipeline

/** [[SpawnFreeLocalFileSystem]] / [[SpawnFreeLocalFs]] against Hadoop's
  * `LocalFileSystem` / `local.LocalFs`: the same operations leave the same
  * file modes, link statuses and rename outcomes; the engine session
  * resolves the new classes through both Hadoop APIs; and a live
  * `fileSource → events → dedupDelivery → materializeSink` stream in a
  * child JVM forks no `chmod`/`readlink`/`ls`/`stat` process. */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")

  private def fileSystems: Seq[(String, FileSystem)] =
    Seq("hadoop" -> new LocalFileSystem, "spawn-free" -> new SpawnFreeLocalFileSystem)
      .map { case (n, fs) => fs.initialize(root, new Configuration()); n -> fs }

  private def fileContexts: Seq[(String, FileContext)] =
    Seq("hadoop" -> "org.apache.hadoop.fs.local.LocalFs",
      "spawn-free" -> classOf[SpawnFreeLocalFs].getName).map { case (n, impl) =>
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", impl)
      n -> FileContext.getFileContext(root, conf)
    }

  /** The permission and special bits of `p`, e.g. 0644 or 01777. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def hpath(p: JPath) = new Path(p.toUri)

  private def create(fc: FileContext, p: JPath) = fc.create(hpath(p), EnumSet.of(CreateFlag.CREATE))

  /** Runs `ops` once per implementation in its own temp dir and returns,
    * per implementation, the mode of every path under it. */
  private def modesAfter[T](impls: Seq[(String, T)])(ops: (T, JPath) => Unit): Map[String, Map[String, Int]] =
    impls.map { case (name, impl) =>
      val dir = Files.createTempDirectory(s"graft_localfs_$name")
      ops(impl, dir)
      name -> Files.walk(dir).iterator().asScala.filter(_ != dir)
        .map(p => dir.relativize(p).toString -> mode(p)).toMap
    }.toMap

  test("create and mkdirs leave Hadoop's modes on the file, the dir and each .crc") {
    val expected = Map("d" -> 0x1ed, "d/e" -> 0x1ed, "f" -> 0x1a4, ".f.crc" -> 0x1a4,
      "d/e/g" -> 0x1a4, "d/e/.g.crc" -> 0x1a4) // 0755 dirs, 0644 files
    val viaFs = modesAfter(fileSystems) { (fs, dir) =>
      fs.create(hpath(dir.resolve("f"))).close()
      fs.mkdirs(hpath(dir.resolve("d/e")))
      fs.create(hpath(dir.resolve("d/e/g"))).close()
    }
    assert(viaFs("spawn-free") === viaFs("hadoop"))
    assert(viaFs("spawn-free") === expected)
    val viaFc = modesAfter(fileContexts) { (fc, dir) =>
      create(fc, dir.resolve("f")).close()
      fc.mkdir(hpath(dir.resolve("d/e")), FsPermission.getDirDefault, true)
      create(fc, dir.resolve("d/e/g")).close()
    }
    assert(viaFc("spawn-free") === viaFc("hadoop"))
    assert(viaFc("spawn-free") === expected)
  }

  test("explicit setPermission 0640/0700/0750 and a sticky 01777 dir apply as Hadoop's do") {
    val modes = Seq(0x1a0, 0x1c0, 0x1e8) // 0640, 0700, 0750
    val got = modesAfter(fileSystems) { (fs, dir) =>
      modes.foreach { m =>
        val f = hpath(dir.resolve(f"f$m%o"))
        fs.create(f).close()
        fs.setPermission(f, new FsPermission(m.toShort))
      }
      val sticky = hpath(dir.resolve("tmp"))
      fs.mkdirs(sticky)
      fs.setPermission(sticky, new FsPermission(0x3ff.toShort)) // 01777
    }
    assert(got("spawn-free") === got("hadoop"))
    assert(modes.map(m => got("spawn-free")(f"f$m%o")) === modes)
    assert(got("spawn-free")("tmp") === 0x3ff)
  }

  test("getFileLinkStatus on a symlink, a regular file and a missing path matches Hadoop's") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    val target = Files.write(dir.resolve("target"), "abc".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    def status(fs: FileSystem, p: Path) = {
      val s = fs.getFileLinkStatus(p)
      (s.getPath, s.isSymlink, s.isFile, s.getLen, if (s.isSymlink) s.getSymlink else null)
    }
    val Seq(hadoop, spawnFree) = fileSystems.map(_._2)
    // qualified (`file:`) and bare absolute paths: Hadoop's readlink sees a
    // link only through the bare one
    for (p <- Seq(link, target).flatMap(p => Seq(hpath(p), new Path(p.toString))))
      assert(status(spawnFree, p) === status(hadoop, p), p)
    assert(status(spawnFree, new Path(link.toString))._2, "a bare symlink path reads as a link")
    for (fs <- Seq(hadoop, spawnFree))
      intercept[FileNotFoundException](fs.getFileLinkStatus(hpath(dir.resolve("missing"))))
    val Seq(hadoopFc, spawnFreeFc) = fileContexts.map(_._2)
    for (p <- Seq(hpath(link), hpath(target))) {
      val (a, b) = (hadoopFc.getFileLinkStatus(p), spawnFreeFc.getFileLinkStatus(p))
      assert((b.getPath, b.isSymlink, b.getLen) === ((a.getPath, a.isSymlink, a.getLen)))
    }
    intercept[FileNotFoundException](spawnFreeFc.getFileLinkStatus(hpath(dir.resolve("missing"))))
  }

  test("FileContext.rename onto an existing file needs OVERWRITE, as Hadoop's does") {
    for ((name, fc) <- fileContexts) {
      val dir = Files.createTempDirectory(s"graft_localfs_rename_$name")
      def write(n: String, body: String) = {
        val out = create(fc, dir.resolve(n))
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      write("src", "new"); write("dst", "old")
      intercept[FileAlreadyExistsException](fc.rename(hpath(dir.resolve("src")), hpath(dir.resolve("dst"))))
      fc.rename(hpath(dir.resolve("src")), hpath(dir.resolve("dst")), Options.Rename.OVERWRITE)
      assert(new String(Files.readAllBytes(dir.resolve("dst")), UTF_8) === "new", name)
      assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet ===
        Set("dst", ".dst.crc"), name)
      write("fresh", "x")
      fc.rename(hpath(dir.resolve("fresh")), hpath(dir.resolve("moved")))
      assert(Files.exists(dir.resolve("moved")) && Files.exists(dir.resolve(".moved.crc")), name)
    }
  }

  test("the engine session resolves the spawn-free classes through FileSystem and FileContext") {
    // FileSystem's cache key ignores the conf: a `file:` instance cached
    // before the session was built would win here
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, conf).getClass === classOf[SpawnFreeLocalFileSystem])
    assert(new Path("/tmp").getFileSystem(conf).getClass === classOf[SpawnFreeLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass === classOf[SpawnFreeLocalFs])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass ===
      classOf[SpawnFreeLocalFs])
  }

  test("a live CDC stream forks no chmod/readlink/ls/stat and matches the batch apply") {
    val dir = Files.createTempDirectory("graft_spawn_guard")
    val shims = Files.createDirectories(dir.resolve("shims"))
    val log = dir.resolve("spawns.log")
    val path = sys.env.getOrElse("PATH", "/usr/bin:/bin")
    for (tool <- Seq("chmod", "readlink", "ls", "stat")) {
      val real = path.split(':').map(Paths.get(_, tool)).find(Files.isExecutable)
        .getOrElse(fail(s"$tool not on PATH"))
      val shim = Files.write(shims.resolve(tool),
        s"""#!/bin/sh\necho "$tool $$*" >> "$log"\nexec "$real" "$$@"\n""".getBytes(UTF_8))
      Files.setPosixFilePermissions(shim, PosixFilePermissions.fromString("rwxr-xr-x"))
    }
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.SpawnGuardChild", dir.resolve("run").toString)
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(dir.resolve("child.out").toFile)
    pb.environment().put("PATH", s"$shims:$path")
    val proc = pb.start()
    if (!proc.waitFor(300, TimeUnit.SECONDS)) proc.destroyForcibly().waitFor()
    val out = new String(Files.readAllBytes(dir.resolve("child.out")), UTF_8)
    assert(proc.exitValue() === 0, out.takeRight(4000))
    val spawns = if (Files.exists(log)) Files.readAllLines(log).asScala else Nil
    assert(spawns.isEmpty, s"${spawns.size} spawns, first: ${spawns.take(10).mkString("; ")}")
    // `.crc` companions stay beside the offset WAL, the state store and the sink files
    val crcs = Files.walk(dir.resolve("run")).iterator().asScala
      .map(p => dir.resolve("run").relativize(p).toString).filter(_.endsWith(".crc")).toSeq
    assert(crcs.contains("ckpt/offsets/.2.crc"), crcs)
    assert(crcs.exists(c => c.startsWith("ckpt/state/") && c.endsWith(".delta.crc")), crcs)
    assert(crcs.exists(c => c.startsWith("state/bucket=") && c.endsWith(".parquet.crc")), crcs)
  }
}

/** Child JVM of [[LocalFsSpec]]'s spawn guard: three micro-batches of
  * `fileSource → events → dedupDelivery → materializeSink` under `args(0)`,
  * then the store must equal `materializeEnvelopeKeyed` over the feed
  * (poison rows skipped, as the sink does); exits non-zero otherwise. */
object SpawnGuardChild {
  private def wire(op: String, id: Int, price: String, es: Long): String =
    s"""{"data":[{"id":"$id","price":"$price"}],"old":null,"type":"$op","table":"products",""" +
      s""""database":"testdb","es":${1704067200000L + es},"isDdl":false,"sql":null,"pkNames":["id"]}"""

  /** Inserts, then updates, a delete, a poison price and redeliveries
    * within and across batches. */
  val feed: Seq[Seq[String]] = {
    val b0 = (1 to 6).map(i => wire("INSERT", i, s"$i.00", i))
    val b1 = Seq(wire("UPDATE", 1, "10.00", 20), wire("UPDATE", 2, "20.00", 21),
      wire("DELETE", 4, "4.00", 22), wire("UPDATE", 3, "n/a", 23), b0(5))
    val b2 = Seq(wire("UPDATE", 5, "50.00", 40), wire("INSERT", 7, "7.00", 41), b1(0))
    Seq(b0, b1 :+ b1(1), b2)
  }

  private def rows(df: DataFrame) =
    df.select(col("database"), col("table"), col("pk"), col("op"),
        to_json(col("data")), unix_micros(col("timestamp")), col("offset"))
      .collect().toSeq.map(_.toSeq.mkString("|")).sorted

  def main(args: Array[String]): Unit =
    sys.exit(try check(Paths.get(args(0))) catch { case e: Throwable => e.printStackTrace(); 1 })

  private def check(run: JPath): Int = {
    val in = Files.createDirectories(run.resolve("in"))
    val spark = EngineSession.builder("local[2]", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val q = CdcPipeline.materializeSink(
      CdcPipeline.dedupDelivery(CdcPipeline.events(CdcPipeline.fileSource(spark, in.toString))),
      run.resolve("state").toString, run.resolve("ckpt").toString).start()
    try feed.zipWithIndex.foreach { case (lines, i) =>
      val staged = Files.write(run.resolve(s"batch$i.json"), lines.mkString("\n").getBytes(UTF_8))
      Files.move(staged, in.resolve(s"batch$i.json"), StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
    } finally q.stop()
    val batchRaw = feed.flatten.toDF("value")
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64(col("value")))
    val want = rows(CdcApply.materializeEnvelopeKeyed(
      CanalJson.events(batchRaw).filter(!CanalJson.processErrorRow(col("data")))))
    val got = rows(spark.read.parquet(run.resolve("state").toString))
    spark.stop()
    if (got == want) 0
    else {
      System.err.println(s"store != batch apply\nonly in the store: ${got.diff(want)}\n" +
        s"only in the batch: ${want.diff(got)}")
      1
    }
  }
}
