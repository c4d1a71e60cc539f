package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.operators.ImporterCore
import graft.sources.QueueHub
import graft.streaming.{StreamImport, TenantUpsertSink}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** [[LocalFs]] against Hadoop's own `RawLocalFileSystem`, the spec
  * session's production confs, and the process starts of one
  * import-loop micro-batch on the production state store.
  */
class LocalFsSpec extends SparkSpec {

  private def fresh[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val hadoop = fresh(new RawLocalFileSystem)
  private lazy val nio = fresh(new NioRawLocalFileSystem)

  test("setPermission: all 512 plain modes and a sticky mode set what Hadoop's chmod sets") {
    val dir = Files.createTempDirectory("graft_lfs_perm_")
    def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    for (m <- (0 until 512) :+ Integer.parseInt("1755", 8)) {
      val a = Files.createFile(dir.resolve(s"hadoop-$m"))
      val b = Files.createFile(dir.resolve(s"nio-$m"))
      val perm = new FsPermission(m.toShort)
      hadoop.setPermission(new Path(a.toString), perm)
      nio.setPermission(new Path(b.toString), perm)
      assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b), f"mode $m%o")
      assert(mode(a) == m && mode(b) == m, f"mode $m%o: hadoop ${mode(a)}%o, nio ${mode(b)}%o")
    }
    hadoop.delete(new Path(dir.toString), true)
  }

  test("getFileLinkStatus: file, directory, symlink and dangling symlink read as Hadoop reads them") {
    val dir = Files.createTempDirectory("graft_lfs_link_")
    val file = Files.write(dir.resolve("f"), "abc".getBytes(UTF_8))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("x"), dir.resolve("missing"))
    def outcome(fs: FileSystem, p: Path): Either[String, (Boolean, Boolean, Boolean, Long, Option[Path])] =
      try {
        val s: FileStatus = fs.getFileLinkStatus(p)
        Right((s.isFile, s.isDirectory, s.isSymlink, s.getLen,
          if (s.isSymlink) Some(s.getSymlink) else None))
      } catch { case e: java.io.IOException => Left(e.getClass.getName) }
    // both spellings: Hadoop reads links by the unqualified path only
    for (p <- Seq(file, sub, link, dangling); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = outcome(hadoop, path)
      assert(outcome(nio, path) == want, s"$path")
    }
    for (p <- Seq(link, dangling))
      assert(outcome(nio, new Path(p.toString)).exists(_._3), s"$p reads as a symlink")
    assert(outcome(nio, new Path(dangling.toString)).toOption.flatMap(_._5)
      .contains(new Path(dir.resolve("missing").toUri)), "the link target comes back qualified")
    val missing = new Path(dir.resolve("nothing").toString)
    for (fs <- Seq(hadoop, nio)) {
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.getFileStatus(missing))
    }
    hadoop.delete(new Path(dir.toString), true)
  }

  test("FileContext through the graft binding: create, rename with OVERWRITE, mkdir, delete") {
    // the calls Spark's FileContext-based CheckpointFileManager makes
    val conf = new Configuration()
    LocalFs.confs.foreach { case (k, v) => conf.set(k.stripPrefix("spark.hadoop."), v) }
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val dir = new Path(Files.createTempDirectory("graft_lfs_fc_").toUri)
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    val dst = new Path(dir, "1")
    val tmp = new Path(dir, ".1.tmp")
    write(dst, "old")
    write(tmp, "new")
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(tmp) && read(dst) == "new")
    // the checksum layer moved the sibling .crc with the file
    assert(fc.util.exists(new Path(dir, ".1.crc")) && !fc.util.exists(new Path(dir, "..1.tmp.crc")))
    val sub = new Path(dir, "a/b")
    fc.mkdir(sub, FsPermission.getDirDefault, true)
    assert(fc.getFileStatus(sub).isDirectory)
    assert(fc.delete(dst, false) && !fc.util.exists(dst) && !fc.util.exists(new Path(dir, ".1.crc")))
    assert(fc.delete(dir, true) && !fc.util.exists(dir))
  }

  test("rmTree deletes a nested tree and ignores a missing path") {
    val dir = Files.createTempDirectory("graft_lfs_rm_")
    Files.write(Files.createDirectories(dir.resolve("a/b")).resolve("f"), "x".getBytes(UTF_8))
    Files.write(dir.resolve("g"), "y".getBytes(UTF_8))
    LocalFs.rmTree(dir.toFile)
    assert(!Files.exists(dir))
    LocalFs.rmTree(dir.toFile)
  }

  test("the spec session is the production session: RocksDB state store, graft file binding") {
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    Graft.stateStoreConfs.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    // the session's FileSystem cache holds the graft binding
    assert(FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("one import-loop micro-batch on RocksDB and one ImporterCore write start no chmod and no readlink") {
    val work = Files.createTempDirectory("graft_lfs_loop_").toString
    val subject = s"graft-lfs-${System.nanoTime()}"
    def js(r: StreamImport.Rec): String =
      s"""{"event_id":${r.event_id},"ts_ms":${r.ts_ms},"user_id":${r.user_id},""" +
        s""""event_type":"${r.event_type}","value":${r.value},"k":${r.k}}"""
    QueueHub.publish(subject,
      StreamImport.toRecs(Tables.events(spark, sfDir)).collect().map(js).toIndexedSeq)
    val stream = spark.readStream.format("graft-queue").option("subject", subject).load()
    val merge = StreamImport.foldMerge(StreamImport.transferFold)

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = try {
      val q = StreamImport.importLoop(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/chk")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          TenantUpsertSink.upsert(s"$work/sink", b, "entity_key", Some(merge))
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      ImporterCore.impEntityTransfers(spark, sfDir).write.parquet(s"$work/transfers")
      q
    } finally {
      rec.stop()
      QueueHub.clear(subject)
    }
    val jfr = Files.createTempFile("graft_lfs_", ".jfr")
    rec.dump(jfr)
    rec.close()
    val commands = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    Files.delete(jfr)

    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.nonEmpty, "the micro-batch read the backlog")
    assert(batches.last.stateOperators.head.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")),
      "the fold ran on the RocksDB provider")
    assert(TenantUpsertSink.readCurrent(spark, s"$work/sink").exists(_.count() > 0))
    assert(spark.read.parquet(s"$work/transfers").count() > 0)
    val byTool = commands.groupBy(c => new java.io.File(c.trim.split("\\s+").head).getName)
      .map { case (k, v) => k -> v.size }
    // Spark's own recursive deletes still fork `rm -rf`; counted, not excluded
    info(s"process starts: ${commands.size} ${byTool.toSeq.sorted.mkString(", ")}")
    assert(!byTool.contains("chmod") && !byTool.contains("readlink"),
      s"forks on the file path: ${commands.filter(c => c.contains("chmod") || c.contains("readlink")).take(5)}")
    hadoop.delete(new Path(work), true)
  }
}
