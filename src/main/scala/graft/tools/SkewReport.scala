package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ChunkedWindows

/** Dev tool: measure the hot-user window mitigation on a synthesized skewed
  * corpus — the TIMING companion to SkewSpec's row-for-row equality proof.
  *
  * Remaps a deterministic ~`pct`% of an events slice onto ONE user id (the
  * shape AQE cannot split for window partitions: the hot user's whole
  * history must sit in one task under `Window.partitionBy(user_id)`), then
  * times vanilla vs chunked forms of the sessionize / time-weighted-average
  * family. Wall times and the hot-task shape go to SCALING.md.
  *
  * The mitigation only pays once the hot partition DOMINATES wall time
  * (hot rows ≫ rows/core): below that, the chunked form's extra stages
  * cost more than the skew they remove — measured both regimes, see
  * SCALING.md. `replicas` densifies the slice (event_id-strided unions)
  * to reach the dominating regime on a small box.
  *
  * Usage: SkewReport [sfdir] [hotPct=10] [replicas=1]
  */
object SkewReport {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/data/sf1")
    val hotPct = if (args.length > 1) args(1).toInt else 10
    val replicas = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Session.local()

    // hot key: pct% of events collapse onto user 1, deterministically
    val base = graft.Tables(spark, dir).events
    val dense =
      if (replicas <= 1) base
      else base.crossJoin(spark.range(replicas).toDF("__r").hint("broadcast"))
        .withColumn("event_id", expr("event_id + __r * 1000000000L"))
        .drop("__r")
    val skewed = dense
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(100L)) < hotPct, lit(1L))
          .otherwise(col("user_id")))
      .repartition(graft.Session.cpus.toInt) // spread replicas; freeze below
      .localCheckpoint(true) // freeze the input so both forms read identical bytes

    def time(name: String)(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$name%-28s $s%8.2f s")
      s
    }
    val n = skewed.count()
    val hot = skewed.filter(col("user_id") === 1L).count()
    println(s"events=$n hotUserRows=$hot (${100.0 * hot / n}%)")

    // warm the session
    time("warmup(count-ish)") { skewed.groupBy("event_type").count() }

    // vanilla forms: same shapes SkewSpec proves the chunked ops equal
    def vanillaSessionize(ev: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
      ev.withColumn("es", col("ts").cast("long"))
        .withColumn("gap", col("es") - lag(col("es"), 1).over(w))
        .withColumn("new_s", when(col("gap") >= 1800, 1).otherwise(0))
        .withColumn("session_idx", sum(col("new_s")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
    }
    def vanillaTwa(ev: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      ev.select(col("user_id"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .withColumn("dt_ms", expr("(next_us - us) div 1000"))
        .filter(col("dt_ms").isNotNull && col("dt_ms") > 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("dt_ms")).as("sum_dt_ms"),
          sum(col("cents") * col("dt_ms")).as("sum_w_cents"))
        .withColumn("twa",
          round(col("sum_w_cents").cast("double") / col("sum_dt_ms") / 100.0, 4))
    }

    time("sessionize VANILLA") { vanillaSessionize(skewed) }
    time("sessionize CHUNKED") { ChunkedWindows.sessionize(skewed) }
    time("twa VANILLA") { vanillaTwa(skewed) }
    time("twa CHUNKED") { ChunkedWindows.timeWeightedAvg(skewed) }
    spark.stop()
  }
}
