package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem,
  LocalFileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{EventEnvelope, LocalCheckpointFileManager,
  NioCheckpointFileManager, Sessions}
import graft.streaming.{StatefulOps, WindowBatch}

/** Pins graft's checkpoint file manager: which paths it takes, the
  * atomic-publish contract Spark's offset log and state stores rely on,
  * and that a checkpoint written by Spark's default manager resumes
  * under it with no window lost or duplicated.
  */
class CheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private def tmpDir(): NioPath = Files.createTempDirectory("graft-cfm-")
  private def hpath(p: NioPath): Path = new Path(p.toUri)
  /** Every name in the directory, hidden temp files and sidecars too. */
  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  private def write(fm: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }
  /** Read through Hadoop's checksummed LocalFileSystem: a `.crc` sidecar
    * that disagrees with the bytes fails the read. */
  private def read(p: Path): String = {
    val in = FileSystem.getLocal(conf).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def graftFm(p: Path) = new LocalCheckpointFileManager(p, conf)
  private def sparkFm(p: Path) = LocalCheckpointFileManager.sparkDefault(p, conf)

  test("a Sessions.tune session resolves file: checkpoints to graft's manager") {
    val spark = Sessions.tune(
      SparkSession.builder().master("local[2]"), 2).getOrCreate()
    try {
      val hc = spark.sessionState.newHadoopConf()
      Seq(hpath(tmpDir()), new Path("/tmp/graft-cfm-unqualified")).foreach {
        p =>
          CheckpointFileManager.create(p, hc) match {
            case fm: LocalCheckpointFileManager =>
              assert(fm.impl.isInstanceOf[NioCheckpointFileManager], p)
              assert(fm.isLocal)
            case other => fail(s"$p resolved to ${other.getClass}")
          }
      }
    } finally spark.stop()
  }

  test("every non-file scheme gets exactly Spark's default manager") {
    assert(LocalCheckpointFileManager.isNioScheme("file"))
    assert(LocalCheckpointFileManager.isNioScheme("FILE"))
    Seq("hdfs", "viewfs", "webhdfs", "s3", "s3a", "gs", "abfs", "abfss",
      "wasb", "o3fs", "har", "ftp", "local", "", null).foreach { s =>
      assert(!LocalCheckpointFileManager.isNioScheme(s), String.valueOf(s))
    }
    // A registered non-file scheme, backed by the local disk so nothing
    // leaves the machine: graft's manager delegates to whatever Spark
    // itself picks with the setting unset.
    val c = new Configuration()
    c.set("fs.graftlocal.impl", classOf[LocalFileSystem].getName)
    c.set(LocalCheckpointFileManager.ManagerClassKey,
      classOf[LocalCheckpointFileManager].getName)
    val p = new Path(s"graftlocal://${tmpDir()}/ckpt")
    val fm = CheckpointFileManager.create(p, c)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    val impl = fm.asInstanceOf[LocalCheckpointFileManager].impl
    assert(impl.getClass ===
      LocalCheckpointFileManager.sparkDefault(p, c).getClass)
    assert(!impl.isInstanceOf[NioCheckpointFileManager])
  }

  test("no-overwrite createAtomic onto an existing file throws, both files intact") {
    val dir = tmpDir()
    val p = hpath(dir.resolve("0"))
    write(sparkFm(p), p, "first", overwrite = false)
    assert(names(dir) === Set("0", ".0.crc"))
    val out = graftFm(p).createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    assertThrows[FileAlreadyExistsException](out.close())
    out.cancel() // what the offset log does next; must be harmless
    assert(read(p) === "first") // the sidecar still matches
    assert(names(dir) === Set("0", ".0.crc"))
  }

  test("cancel leaves no file") {
    val dir = tmpDir()
    val p = hpath(dir.resolve("state.delta"))
    Seq(true, false).foreach { overwrite =>
      val out = graftFm(p).createAtomic(p, overwrite)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty, s"overwrite=$overwrite")
    }
  }

  test("overwrite replaces the file and drops its stale .crc sidecar") {
    val dir = tmpDir()
    val p = hpath(dir.resolve("1.snapshot"))
    write(sparkFm(p), p, "old", overwrite = true)
    assert(names(dir) === Set("1.snapshot", ".1.snapshot.crc"))
    write(graftFm(p), p, "new", overwrite = true)
    assert(names(dir) === Set("1.snapshot"))
    assert(read(p) === "new")
    // and a later no-overwrite publish of a fresh name works alongside
    val q = hpath(dir.resolve("2.snapshot"))
    write(graftFm(q), q, "next", overwrite = false)
    assert(read(q) === "next")
    assert(names(dir) === Set("1.snapshot", "2.snapshot"))
  }

  test("a checkpoint written by Spark's default manager resumes under graft's") {
    val root = tmpDir()
    val in = root.resolve("in").toString
    val ckpt = root.resolve("ckpt")
    val got = mutable.Buffer.empty[(Long, Seq[Int])]

    // Hadoop's hidden `.<name>.crc` sidecars (Spark's own state-store
    // checksum files, `<name>.crc`, are written through either manager)
    def crcs: Set[NioPath] = Files.walk(ckpt).iterator.asScala.filter { f =>
      val n = f.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc")
    }.toSet

    // One phase: a fresh session, events `vs` appended to the input,
    // the counting-window query run to quiescence and stopped.
    def phase(vs: Range, managerClass: Option[String]): Unit = {
      val b = Sessions.tune(SparkSession.builder().master("local[2]"), 2)
      val spark = managerClass
        .fold(b)(c => b.config(LocalCheckpointFileManager.ManagerClassKey, c))
        .getOrCreate()
      import spark.implicits._
      try {
        vs.map(v => EventEnvelope.at(new Timestamp(1700000000000L + v * 1000L), v))
          .toDS().write.mode("append").parquet(in)
        val events = spark.readStream
          .schema(Seq.empty[EventEnvelope[Int]].toDS().schema)
          .parquet(in).as[EventEnvelope[Int]]
        val q = StatefulOps.countingWindows[Int](3, 3)(events)
          .writeStream
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (ds: Dataset[WindowBatch[Int]], _: Long) =>
            got ++= ds.collect().map(w => (w.windowId, w.events)); ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally spark.stop()
    }

    phase(0 until 10,
      Some(classOf[FileContextBasedCheckpointFileManager].getName))
    val spark1Crcs = crcs
    assert(spark1Crcs.nonEmpty, "Spark's default manager writes sidecars")
    phase(10 until 20, None)
    // graft's manager wrote everything after the restart: no new sidecars
    assert(crcs.subsetOf(spark1Crcs), (crcs -- spark1Crcs).map(ckpt.relativize))

    // windows of 3 tumbling over 0..19; 18 and 19 stay buffered in state.
    // Window 3 = (9, 10, 11) spans the restart: event 9 came back from
    // the state store the default manager wrote.
    val expected = (0L until 6L).map(w => (w, (w.toInt * 3 until w.toInt * 3 + 3).toSeq))
    assert(got.sortBy(_._1) === expected)
  }
}
