package graft

import graft.streaming.{Channel, ForkFreeLocalFs, Out, RunMode, StateProcs}
import graft.streaming.ForkFreeLocalFs.{ConfKey, HadoopDefault}
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import scala.jdk.CollectionConverters._

/** [[ForkFreeLocalFs]]: Spark's checkpoint files come out as under
  * Hadoop's default `LocalFs`, and a live trigger starts no process. */
class CheckpointFsSpec extends SparkSuite {

  private def manager(dir: JPath, impl: String): CheckpointFileManager = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(ConfKey, impl)
    CheckpointFileManager.create(new Path(dir.toUri), conf)
  }

  private def write(m: CheckpointFileManager, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Each file left in `dir` with its permission bits; a temp file's
    * random UUID reads `<uuid>`. */
  private def listing(dir: JPath): Seq[(String, String)] =
    Files.list(dir).iterator().asScala.toSeq.map { f =>
      (f.getFileName.toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>"),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(f)))
    }.sorted

  test("CheckpointFileManager on ForkFreeLocalFs writes what Hadoop's LocalFs writes") {
    def scenario(impl: String): (JPath, Seq[(String, String)]) = {
      val dir = Files.createTempDirectory("ckpt_fs")
      val m = manager(dir, impl)
      val p0 = new Path(dir.toUri.toString, "0")
      val p1 = new Path(dir.toUri.toString, "1")
      write(m, p0, "first", overwrite = false)
      write(m, p1, "second", overwrite = false)
      intercept[FileAlreadyExistsException](write(m, p0, "again", overwrite = false))
      write(m, p1, "second, overwritten with a longer body", overwrite = true)
      val cancelled = m.createAtomic(new Path(dir.toUri.toString, "2"), false)
      cancelled.write("never lands".getBytes("UTF-8"))
      cancelled.cancel()
      (dir, listing(dir))
    }
    val (forkFree, files) = scenario(classOf[ForkFreeLocalFs].getName)
    val (_, localFiles) = scenario(HadoopDefault)
    assert(files == localFiles, "the same files, .crc included, with the same modes")
    // Spark leaves the refused write's temp file (on either filesystem);
    // the cancelled one is deleted with its .crc
    assert(files.map(_._1) == Seq("..0.<uuid>.tmp.crc", ".0.<uuid>.tmp", ".0.crc", ".1.crc", "0", "1"),
      s"no temp file survives the cancel: $files")
    // the overwrite replaced the .crc too: the default LocalFs verifies it
    val local = manager(forkFree, HadoopDefault)
    assert(read(local, new Path(forkFree.toUri.toString, "0")) == "first")
    assert(read(local, new Path(forkFree.toUri.toString, "1")) == "second, overwritten with a longer body")
  }

  test("RunMode.streaming installs ForkFreeLocalFs over Hadoop's default only") {
    val before = spark.conf.getOption(ConfKey)
    val own = "org.apache.hadoop.fs.local.RawLocalFs"
    try {
      spark.conf.set(ConfKey, own)
      RunMode.streaming(new Channel(spark).toDS, StateProcs.outlierMad(16))
      assert(spark.conf.get(ConfKey) == own, "a user's own file: filesystem stays")
      spark.conf.set(ConfKey, HadoopDefault)
      RunMode.streaming(new Channel(spark).toDS, StateProcs.outlierMad(16))
      assert(spark.conf.get(ConfKey) == classOf[ForkFreeLocalFs].getName)
    } finally before.fold(spark.conf.unset(ConfKey))(spark.conf.set(ConfKey, _))
  }

  test("a live trigger writes its WAL, commit log and state deltas without starting a process") {
    val ch = new Channel(spark)
    val ckpt = Files.createTempDirectory("ckpt_forks")
    val sink: (Dataset[Out], Long) => Unit = (ds, _) => ds.collect()
    val q = RunMode.streaming(ch.toDS, StateProcs.outlierMad(16)).writeStream
      .option("checkpointLocation", ckpt.toString).foreachBatch(sink).start()
    def trigger(t: Long): Unit = {
      (1 to 8).foreach(k => ch.sendAt(s"k$k", t, (k * t % 7).toDouble))
      ch.flush()
      q.processAllAvailable()
    }
    // the warm-up trigger also initializes Hadoop's Shell class, which forks once
    trigger(1L)
    val rec = new Recording()
    val jfr = Files.createTempFile("forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      (2L to 4L).foreach(trigger)
      rec.stop()
      rec.dump(jfr)
    } finally { rec.close(); q.stop() }
    // only Hadoop's forks: Spark's heartbeat thread forks `getconf PAGESIZE`
    // once per JVM, on its own clock, whenever its metrics getter first loads
    val starts = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filter(_.getStackTrace.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.")))
    assert(q.lastProgress.batchId == 3L, "three triggers recorded")
    assert(starts.isEmpty, s"${starts.size} Hadoop process starts in 3 triggers, e.g. " +
      starts.take(3).map(_.getString("command")).mkString("; "))
  }
}
