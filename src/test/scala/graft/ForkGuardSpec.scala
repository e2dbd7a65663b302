package graft

import graft.cdc.CdcFixtures
import graft.io.{NioLocalFileSystem, NioLocalFs}
import graft.scd2.{Partitioning, VersionedTable}
import graft.streaming.Streams
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.functions.{concat, lit}
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Local file I/O must start no process. The stock `file:` filesystem
  * forks a shell command (`chmod`, `ls -ld`, `readlink`) per create,
  * mkdirs, permission read and FileContext rename; a JFR recording of
  * process starts around the table and streaming write paths catches
  * any that come back. */
class ForkGuardSpec extends SparkSpec {
  import CdcFixtures._
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("forkguard").toString

  /** The command lines of every process started while `body` ran whose
    * stack passes through Hadoop's `Shell`. */
  private def shellForks(body: => Unit): Seq[String] = {
    spark // the session (and Shell's own static probes) exist before recording
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("forkguard", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
      }.map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("the session's file: FileSystem and AbstractFileSystem are the fork-free ones") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("bucketed table overwrite, replacePartitions, compact and vacuum start no shell process") {
    val t = new VersionedTable(spark, tmp(), Partitioning.BucketBy("id", 4))
    val forks = shellForks {
      t.overwrite((1 to 200).map(i => (i, s"v$i")).toDF("id", "v"), clusterBy = Seq("id"))
      val touched = t.partitionValues(Seq((1, "")).toDF("id", "v"))
      t.replacePartitions(t.readPartitions(touched).withColumn("v", concat($"v", lit("!"))),
        touched, clusterBy = Seq("id"))
      t.compact(1)
      t.vacuum(1)
    }
    assert(forks.size == 0, s"shell forks, e.g. ${forks.take(5).mkString("; ")}")
    assert(t.read().count() == 200)
    assert(t.read().filter($"id" === 1).as[(Int, String)].collect().toSeq == Seq((1, "v1!")))
  }

  test("an AvailableNow bronze batch with lsn dedup starts no shell process") {
    val in = tmp(); val out = tmp() + "/bronze"; val ck = tmp() + "/ck"
    val lines = randomStream(seed = 17, nKeys = 6, nOps = 40).map(toJson)
    Files.write(Paths.get(in, "b0.jsonl"), String.join("\n", (lines ++ lines): _*).getBytes)
    val forks = shellForks {
      Streams.bronzeQuery(Streams.rawFileStream(spark, in), out, ck,
        availableNow = true, dedupeByLsn = true).awaitTermination()
    }
    assert(forks.size == 0, s"shell forks, e.g. ${forks.take(5).mkString("; ")}")
    assert(spark.read.parquet(out).count() == 40)
  }
}
