package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}

import graft.streaming.SpendProcessor

/** Spark 4 state introspection — the ops surface for debugging a live
  * streaming job: `state-metadata` enumerates a checkpoint's stateful
  * operators, `statestore` reads the state rows themselves as a batch
  * DataFrame. Pinned here against ground truth so the capability is known
  * to work on this engine's checkpoints (windowed-agg state AND a
  * transformWithState value-state variable). At 100 TB this is how an
  * on-call engineer answers "what is this job holding and why is its state
  * growing" without touching the running query. */
class StateReaderSpec extends SparkSpec {

  test("windowed aggregation state reads back and matches the aggregate") {
    val ckpt = java.nio.file.Files.createTempDirectory("ssr-ckpt").toString
    val ev = spark.readStream.schema(Tables.eventSchema(spark, sf))
      .option("pathGlobFilter", "events.parquet").parquet(sf)
    val q = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("ssr_sink")
      .outputMode("complete").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert(meta.length === 1)
    assert(meta.head.getAs[String]("operatorName") === "stateStoreSave")

    val state = spark.read.format("statestore").load(ckpt)
      .select(col("key.user_id").as("user_id"), col("value.count").as("n"))
    val exact = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    assert(state.count() === exact.count())
    assert(state.exceptAll(exact).isEmpty && exact.exceptAll(state).isEmpty,
      "checkpointed aggregation state diverges from the exact aggregate")
  }

  test("a transformWithState value-state variable reads back by name") {
    val rocks = operators.StreamingQueries.streamSession(spark,
      operators.StreamingQueries.RocksDbState)
    import rocks.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("ssr-tws-ckpt").toString
    val typed = Tables.normalizeEventTs(
      rocks.readStream.schema(Tables.eventSchema(rocks, sf))
        .option("pathGlobFilter", "events.parquet").parquet(sf))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
    val out = typed.groupByKey(_._1)
      .transformWithState(new SpendProcessor, TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_purch", "cents")
    out.writeStream.format("memory").queryName("ssr_tws_sink")
      .outputMode("update").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    // the processor registered one ValueState named "spend" — address it
    val spend = spark.read.format("statestore")
      .option("stateVarName", "spend").load(ckpt)
      .select(col("key.value").as("user_id"),
        col("value._1").as("n"), col("value._2").as("cents"))
    val exact = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(12,2)") * 100).cast("long")).as("cents"))
    assert(spend.count() === exact.count())
    assert(spend.exceptAll(exact).isEmpty && exact.exceptAll(spend).isEmpty,
      "transformWithState 'spend' variable diverges from the exact totals")
  }
}
