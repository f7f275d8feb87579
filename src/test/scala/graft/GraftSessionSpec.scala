package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.StreamingQueries
import graft.operators.StreamingQueries.{NoTerminalBatch, RocksDbState}

/** The harness session factory's conf parser, and per-lane stream sessions:
  * a lane's confs live on its own cloned session, so streams with different
  * confs can run at the same time and the shared harness session is never
  * mutated. */
class GraftSessionSpec extends SparkSpec {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  test("k=v;k=v conf lists parse, and a segment without '=' names its variable") {
    assert(GraftSession.parseConfs("X", " a = 1 ;; b=x=y ;") ===
      Seq("a" -> "1", "b" -> "x=y"))
    val e = intercept[RuntimeException](
      GraftSession.parseConfs("SPARK_GRAFT_STREAM_CONF", "a=1;oops"))
    assert(e.getMessage ===
      "SPARK_GRAFT_STREAM_CONF segment 'oops' has no '=' (want k=v;k=v)")
  }

  /** A watermarked dedup over the replay log: stateful, and its watermark
    * advances after the first batch, so by default a trailing no-data batch
    * follows the data. Started, not awaited. */
  private def startDedup(s: SparkSession): (StreamingQuery, Path) = {
    val ckpt = Files.createTempDirectory(StreamingQueries.tmpBase, "graft-sess")
    val df: DataFrame = s.readStream.format("graft-replay")
      .option("path", sources.replay.ReplayLog.ensureLog(s, sf)).load()
      .withWatermark("timestamp", "1 hour")
      .dropDuplicatesWithinWatermark("partition", "offset")
      .select(col("partition"), col("offset"))
    val q = df.writeStream.format("noop")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    (q, ckpt)
  }

  test("two streams started together each record their own state provider") {
    val harness = StreamingQueries.harnessSession(spark)
    val (rq, rckpt) = startDedup(StreamingQueries.streamSession(harness, RocksDbState))
    val (dq, dckpt) = startDedup(harness)
    rq.awaitTermination()
    dq.awaitTermination()
    def provider(ckpt: Path): String = {
      val meta = Files.readString(ckpt.resolve("offsets").resolve("0"))
      val m = ("\"" + ProviderKey + "\":\"([^\"]+)\"").r.findFirstMatchIn(meta)
      assert(m.isDefined, s"no $ProviderKey in offsets/0 metadata:\n$meta")
      m.get.group(1)
    }
    assert(provider(rckpt) === RocksDbState(ProviderKey))
    assert(provider(dckpt).endsWith("HDFSBackedStateStoreProvider"),
      "the default stream must keep the stock provider")
  }

  test("a NoTerminalBatch stream runs no trailing empty batch; the default does") {
    val harness = StreamingQueries.harnessSession(spark)
    val (nq, nckpt) = startDedup(StreamingQueries.streamSession(harness, NoTerminalBatch))
    val (dq, dckpt) = startDedup(harness)
    nq.awaitTermination()
    dq.awaitTermination()
    def commits(ckpt: Path): Int =
      ckpt.resolve("commits").toFile.list().count(!_.startsWith("."))
    assert(nq.recentProgress.nonEmpty &&
      nq.recentProgress.forall(_.numInputRows > 0),
      "NoTerminalBatch must run data batches only")
    assert(dq.recentProgress.last.numInputRows === 0L,
      "the default stream must end on a no-data batch")
    assert(commits(dckpt) === commits(nckpt) + 1)
  }

  test("s15 leaves the shared harness session's state provider unset") {
    assert(SparkEntry.queries("s15_transform_with_state")(spark, sf)
      .collect().nonEmpty)
    val harness = StreamingQueries.harnessSession(spark)
    assert(!harness.conf.getAll.contains(ProviderKey),
      s"harness session carries $ProviderKey=${harness.conf.getAll.get(ProviderKey)}")
    assert(!spark.conf.getAll.contains(ProviderKey))
    assert(StreamingQueries.streamSession(harness, RocksDbState)
      .conf.get(ProviderKey) === RocksDbState(ProviderKey))
  }
}
